package graft

import graft.core.Tables
import graft.index.IndexKinds
import org.apache.spark.sql.functions._

/** Recall-vs-shortlist sweep for the 1-bit (BQ / IVF-BQ) tier — the
  * evidence behind the shortlist defaults in [[graft.queries.Ann]] and
  * the frontier table in SCALE.md.
  *
  * The 1-bit tier's coarse stage ranks by Hamming distance over packed
  * sign bits, which for a dim-d vector takes at most d+1 distinct
  * values: at any corpus size there is a heavy tie mass at the
  * shortlist boundary, and recall is governed by how much of that tie
  * band the shortlist admits before the exact rerank (the candidate
  * budget is the recall lever — the reference's search kernel sizes its
  * candidate heap the same way, radient/src/backends/gann/gann.c:999-1080).
  * This sweep measures recall@10 across shortlist (and nprobe for
  * IVF-BQ) so the defaults are picked on evidence, not guessed.
  *
  * Run: `runMain graft.RecallCurve [sfDir]` — prints a markdown table
  * and writes `target/recall_curve.json`.
  */
object RecallCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.core.SessionConf.local(defaultCpus = 8)

    val k = 10
    val exact = RecallReport.exactTopK(spark, sfDir, k)
    val e = Tables.spread(Tables(spark, sfDir, "embeddings"))
    val queries = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

    val shortlists = Seq(50, 100, 200, 400, 800)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Double)]
    def build(kind: String, params: IndexKinds.Params) =
      IndexKinds.kinds(kind).build(e, "vec_id", "embedding", params)

    val bq = build("bq", Map.empty)
    shortlists.foreach { sl =>
      val r = RecallReport.recallOfDf(
        bq.searchRerank(queries, "qid", "qv", k, 0, sl, e, "embedding"), exact)
      rows += (("bq", 0, sl, r))
    }

    val ivfbq = build("ivfbq", Map("kCoarse" -> "8"))
    Seq(4, 6, 7, 8).foreach { np =>
      shortlists.foreach { sl =>
        val r = RecallReport.recallOfDf(
          ivfbq.searchRerank(queries, "qid", "qv", k, np, sl, e, "embedding"),
          exact)
        rows += (("ivfbq", np, sl, r))
      }
    }

    // IVF nprobe curve (exact ranks inside probed clusters — recall is
    // governed purely by how many posting lists the probe touches), plus
    // the compressed IVF siblings at their entry shortlists
    val ivf = build("ivf", Map("k" -> "8"))
    (3 to 8).foreach { np =>
      val r = RecallReport.recallOfDf(
        ivf.search(queries, "qid", "qv", k, np), exact)
      rows += (("ivf", np, 0, r))
    }
    val ivfpq = build("ivfpq",
      Map("kCoarse" -> "8", "m" -> "16", "ksub" -> "16"))
    (3 to 8).foreach { np =>
      val r = RecallReport.recallOfDf(
        ivfpq.searchRerank(queries, "qid", "qv", k, np, 100, e, "embedding"), exact)
      rows += (("ivfpq", np, 100, r))
    }
    val ivfsq = build("ivfsq", Map("kCoarse" -> "8"))
    (3 to 8).foreach { np =>
      val r = RecallReport.recallOfDf(
        ivfsq.searchRerank(queries, "qid", "qv", k, np, 50, e, "embedding"), exact)
      rows += (("ivfsq", np, 50, r))
    }

    // GANN beam curve (leaves probed per tree at search time — the
    // within-tree sibling of the reference's n_trees knob, gann.py:201):
    // beam=1 is the natural spill probe the entry served through r11
    val gann = graft.index.GannIndex.build(e, "vec_id", "embedding",
      leafSize = 200, spill = 0.15, nTrees = 3)
    Seq(1, 2, 3, 4, 6).foreach { bm =>
      val r = RecallReport.recallOfDf(
        gann.search(queries, "qid", "qv", k, beam = bm), exact)
      rows += (("gann", bm, 0, r))
    }

    def fmt(v: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    println("| index | nprobe | shortlist | recall@10 |")
    println("| --- | --- | --- | --- |")
    rows.foreach { case (nm, np, sl, r) =>
      println(s"| $nm | ${if (np == 0) "-" else np.toString} | $sl | ${fmt(r)} |")
    }
    val json = rows.map { case (nm, np, sl, r) =>
      s"""{"index":"$nm","nprobe":$np,"shortlist":$sl,"recall":${fmt(r)}}"""
    }.mkString("[", ",", "]")
    val dir = java.nio.file.Paths.get("target")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("recall_curve.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
