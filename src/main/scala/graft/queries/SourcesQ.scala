package graft.queries

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source-format roundtrip entries: the query stages the parquet table
  * through another format (csv / json) and aggregates the re-read copy,
  * while the oracle aggregates the ORIGINAL parquet in DuckDB — so a
  * hash match proves the format encode/decode chain loses nothing
  * (radient's file-format decoding surface, tasks/sources/local.py +
  * factory.py csv/json paths, as an oracle-checked property instead of
  * a spec assertion). The staged copy is written once per invocation to
  * a temp dir; at scale this is the same one-pass format-conversion job
  * a landing-zone ingest runs. */
object SourcesQ {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def aggShape(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))

  private val oracleAgg = """
    |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
    |  min(doc_id) AS min_id, max(doc_id) AS max_id
    |FROM documents GROUP BY lang ORDER BY lang
    |""".stripMargin

  // staged copies are read lazily by the returned frame, so they live
  // until JVM exit, when Scratch deletes them recursively
  private def tempDir(prefix: String): String =
    graft.core.Scratch.tempDir(prefix).toString

  val q_csv_roundtrip = Q(
    "q_csv_roundtrip",
    (s, dir) => {
      val tmp = tempDir("graft_csv")
      Tables(s, dir, "documents").write.mode("overwrite")
        .option("header", "true").csv(tmp)
      aggShape(s.read.schema(docSchema).option("header", "true").csv(tmp))
    },
    Some(oracleAgg))

  val q_json_roundtrip = Q(
    "q_json_roundtrip",
    (s, dir) => {
      val tmp = tempDir("graft_json")
      Tables(s, dir, "documents").write.mode("overwrite").json(tmp)
      aggShape(s.read.schema(docSchema).json(tmp))
    },
    Some(oracleAgg))

  /** ORC roundtrip — the second columnar format (Spark-native reader;
    * same staging-IO caveat as the csv/json roundtrips, so it is
    * likewise excluded from the bench loop). Typed schema on re-read:
    * ORC preserves types, so no docSchema coercion is needed. */
  val q_orc_roundtrip = Q(
    "q_orc_roundtrip",
    (s, dir) => {
      val tmp = tempDir("graft_orc")
      Tables(s, dir, "documents").write.mode("overwrite").orc(tmp)
      aggShape(s.read.orc(tmp))
    },
    Some(oracleAgg))

  /** Quarantine routing under the oracle (the ingest contract,
    * radient/tasks/sources/ingest.py:7-18): stage the corpus as JSON
    * lines with PLANTED corruption — every doc_id ≡ 0 (mod 97) is
    * written as the unparseable line `CORRUPT|<doc_id>` instead of its
    * JSON — then read back through [[graft.sources.Sources.readWithQuarantine]]
    * and emit (a) the per-language aggregate of the CLEAN frame and (b)
    * one `_quarantine` row whose stats come from ids recovered out of
    * the quarantined raw lines. The DuckDB oracle replays the same
    * planting rule arithmetically over the original parquet, so a hash
    * match proves both routes: no clean row was damaged or dropped, and
    * every planted-bad line landed — whole and replayable — in
    * quarantine. (Same staging-IO caveat as the other roundtrips →
    * bench-excluded.) */
  val q_quarantine_roundtrip = Q(
    "q_quarantine_roundtrip",
    (s, dir) => {
      val tmp = tempDir("graft_quar")
      Tables(s, dir, "documents")
        .select(when(col("doc_id") % 97 === 0,
            concat(lit("CORRUPT|"), col("doc_id")))
          .otherwise(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars")))).as("value"))
        .write.mode("overwrite").text(tmp)
      val (clean, quarantine) =
        graft.sources.Sources.readWithQuarantine(s, "json", tmp, docSchema)
      val cleanAgg = clean.groupBy(col("lang").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("s"),
          min(col("doc_id")).as("lo"),
          max(col("doc_id")).as("hi"))
      val quarAgg = quarantine
        .select(split(col("raw_record"), "\\|").getItem(1)
          .cast("long").as("qid"))
        .agg(count(lit(1)).as("n"), sum(col("qid")).as("s"),
          min(col("qid")).as("lo"), max(col("qid")).as("hi"))
        .select(lit("_quarantine").as("grp"), col("n"), col("s"),
          col("lo"), col("hi"))
      cleanAgg.unionByName(quarAgg).orderBy(col("grp"))
    },
    Some("""
      |SELECT lang AS grp, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS s,
      |  min(doc_id) AS lo, max(doc_id) AS hi
      |FROM documents WHERE doc_id % 97 <> 0 GROUP BY lang
      |UNION ALL
      |SELECT '_quarantine', count(*), CAST(sum(doc_id) AS BIGINT),
      |  min(doc_id), max(doc_id)
      |FROM documents WHERE doc_id % 97 = 0
      |ORDER BY grp
      |""".stripMargin))

  val all: Seq[Q] = Seq(q_csv_roundtrip, q_json_roundtrip, q_orc_roundtrip,
    q_quarantine_roundtrip)
}
