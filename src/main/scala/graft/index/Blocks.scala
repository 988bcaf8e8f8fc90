package graft.index

import org.apache.spark.sql.SparkSession

/** Persisted-index metadata + block-append conventions shared by every
  * index kind ([[IndexKinds]]).
  *
  * Layout: every saved index is a directory of parquet tables (quantizer
  * metadata coalesced to one file; the codes/assignment table
  * partitioned for probe pruning) plus a one-row `meta` table holding
  * the distance metric. The persisted INSERT path
  * (`appendToSaved` on each index object) encodes a batch against the
  * frozen quantizer and writes it with `mode("append")` — parquet
  * append only ADDS files under the directory, so the cost of an insert
  * is O(batch) written rows and the existing blocks are never read or
  * rewritten (the reference's flat in-memory append, gann.py:216-220,
  * made durable; contrast the in-memory [[Compact.append]], which
  * re-materializes the cached union every insert). `load` then reads
  * the whole directory lazily — old blocks and appended blocks alike.
  * BlockAppendSpec pins: appended-index search ≡ in-memory-insert
  * search, and existing block files untouched by an append.
  */
object Blocks {

  /** Write the one-row metric table (idempotent overwrite). */
  def writeMeta(spark: SparkSession, path: String, metric: String): Unit = {
    import spark.implicits._
    Seq(metric).toDF("metric")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Read the saved metric; "l2" for indexes saved before metrics
    * existed (their vectors were never normalized, which is exactly the
    * l2 encode). */
  def readMetric(spark: SparkSession, path: String): String =
    try spark.read.parquet(s"$path/meta").collect()(0).getString(0)
    catch { case _: org.apache.spark.sql.AnalysisException => "l2" }

  /** The streamed batch blocks under `path/assign_stream`, projected to
    * the base assignment's column layout — None when no stream blocks
    * exist. Shared by the GANN/IVF `loadServing` views. */
  def streamBlocks(spark: SparkSession, path: String,
      baseColumns: Seq[String]): Option[org.apache.spark.sql.DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(s"$path/assign_stream")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else Some(spark.read.parquet(root.toString).drop("batch")
      .select(baseColumns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*))
  }

  /** MAINTENANCE-WINDOW compaction of streamed batch blocks: fold every
    * `assign_stream/batch=*` block into the base assignment (one
    * partitioned rewrite of base ∪ stream), then drop the stream dir —
    * after enough micro-batches the per-batch directories fragment the
    * partition layout (a (tree, leaf) or cluster probe reads one file
    * per batch), and compaction restores the one-dir-per-partition
    * read path. Returns false (no-op) when there are no stream blocks.
    *
    * Contract (same as an index rebuild): run ONLY while the
    * maintenance stream is stopped AND its checkpoint fully committed —
    * a stream resumed after compaction must not replay a folded batch
    * (its batch-keyed idempotence dir is gone, so a replay would
    * re-append). The swap itself is delete-then-rename on the
    * directory: on a real deployment this is a table-format manifest
    * swap (Iceberg/Delta commit); the narrow non-atomic window here is
    * the price of plain parquet dirs, and the `assign_compact` staging
    * dir survives a crash for manual recovery. */
  def compactStreamBlocks(spark: SparkSession, path: String,
      partitionCols: Seq[String]): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val streamRoot = new org.apache.hadoop.fs.Path(s"$path/assign_stream")
    val fs = streamRoot.getFileSystem(conf)
    if (!fs.exists(streamRoot)) return false
    val base = spark.read.parquet(s"$path/assign")
    val extra = spark.read.parquet(streamRoot.toString).drop("batch")
      .select(base.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    val staging = s"$path/assign_compact"
    base.unionByName(extra).write.mode("overwrite")
      .partitionBy(partitionCols: _*).parquet(staging)
    val assign = new org.apache.hadoop.fs.Path(s"$path/assign")
    fs.delete(assign, true)
    fs.delete(streamRoot, true)
    fs.rename(new org.apache.hadoop.fs.Path(staging), assign)
    true
  }
}
