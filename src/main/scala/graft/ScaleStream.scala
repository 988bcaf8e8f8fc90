package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Streaming-tier scale rehearsal (round 13 — the SCALE.md batch table's
  * missing sibling): measure PER-MICRO-BATCH wall time and state size
  * for the streaming entries at 1× (sf0.1) and at the N×-scaled corpus
  * [[Scale.buildScaled]] synthesizes, pinning the per-entry claims:
  *
  *  - '''LSH / winnow admission''' (`q_stream_dedup_lsh`,
  *    `q_stream_dedup_winnow`): per-batch cost = batch work + ONE scan
  *    of accumulated id-only state (broadcast-pinned joins — state is
  *    never shuffled). The within-run batch1 → batchN slope is the
  *    state-scan term; the 1× → N× slope is batch work (chunks are
  *    corpus/8 at both scales, so both grow ~N× together — fixed
  *    per-trigger costs damp the measured ratio).
  *  - '''Index maintenance''' (`q_stream_index_insert` shape): a batch
  *    of FIXED size appends through a frozen forest — per-batch wall
  *    must be FLAT in the base index size (1× vs N× base, same
  *    batches), the O(batch)-not-O(corpus) claim measured directly.
  *  - '''Domain cap''' (`q_stream_domain_cap`): state-store rows stay
  *    |sources|·k at ANY crawl volume — the N× corpus multiplies every
  *    source's rows while the heap state row count must not move.
  *
  * Run: `runMain graft.ScaleStream [factor]` (default 10). Min-of-REPS
  * per batch (SPARK_GRAFT_SCALE_REPS, default 3 — each rep replays with
  * FRESH state, so the min is a clean draw of the same work against
  * host noise). Writes `target/scale_stream.json` and prints a markdown
  * table.
  */
object ScaleStream {

  private def tmpDir(tag: String): java.nio.file.Path =
    graft.core.Scratch.tempDir(s"graft_sst_$tag")

  /** Land staged chunk files one at a time into a fresh landing dir,
    * timing each processAllAvailable — per-batch walls for one rep.
    *
    * `foldEvery` > 0 models the production MAINTENANCE CADENCE for the
    * admission tiers: after every `foldEvery`-th batch the stream is
    * STOPPED (checkpoint committed), `StreamDedup.compactState` folds
    * the per-trigger state dirs into the sized (and, for postings,
    * bucket-partitioned) base, and the stream resumes from the same
    * checkpoint — exactly the restart-resume contract the admission
    * specs pin. Fold wall-time is NOT charged to the next batch (it is
    * a maintenance-window cost, amortized over the cadence); the
    * per-batch walls then measure what a steady-state deployment pays
    * per trigger: batch work + a scan of [base + ≤foldEvery live
    * dirs]. */
  private def replayTimed(spark: SparkSession, staged: java.nio.file.Path,
      attach: DataFrame => org.apache.spark.sql.streaming.StreamingQuery,
      foldEvery: Int = 0, stateRoot: Option[String] = None)
      : Seq[Double] = {
    val landing = tmpDir("land")
    val staging = tmpDir("landstage") // same tmpfs → Files.move is atomic
    val chunkFiles = java.nio.file.Files.list(staged).iterator().asScala
      .toSeq.filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(staged.toString).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing.toString)
    var q = attach(stream)
    try {
      chunkFiles.zipWithIndex.map { case (f, i) =>
        if (foldEvery > 0 && i > 0 && i % foldEvery == 0) {
          q.stop()
          graft.streaming.StreamDedup.compactState(spark, stateRoot.get)
          q = attach(stream)
          // absorb checkpoint recovery + source relisting in an untimed
          // no-op trigger (no new files landed yet): the next timed
          // batch then measures steady-state work, not restart cost —
          // without this the post-fold batches carried ~0.5-1 s of
          // recovery and distorted the slope
          q.processAllAvailable()
        }
        // stage OUTSIDE the watched dir, then ATOMIC move into place —
        // the file-source listing must never see a half-written parquet
        // (the specs' land() discipline; round-13 advice)
        val tmp = staging.resolve(f.getFileName.toString)
        java.nio.file.Files.copy(f, tmp)
        tmp.toFile.setLastModified(f.toFile.lastModified())
        val dst = landing.resolve(f.getFileName.toString)
        java.nio.file.Files.move(tmp, dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
    } finally {
      q.stop()
      Seq(landing, staging).foreach(graft.core.Scratch.rmTree)
    }
  }

  private def minOver(reps: Int)(walls: => Seq[Double]): Seq[Double] =
    (1 to reps).map(_ => walls).reduce((a, b) => a.zip(b).map(t => math.min(t._1, t._2)))

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    // optional entry subset (args after the factor) — re-measuring one
    // row must not cost a full re-run. Fail FAST on a typo'd name: a
    // silently-partial run looks complete (the Scale.main require,
    // applied here per round-13 advice).
    val only = args.drop(1).toSet
    val known = Set("q_stream_dedup_lsh", "q_stream_dedup_winnow",
      "q_stream_dedup_containment", "q_stream_dedup_ladder",
      "q_stream_dedup_containment_hot", "q_stream_dedup_containment_hotraw",
      "q_stream_domain_cap", "q_stream_index_insert")
    require(only.subsetOf(known),
      s"unknown ScaleStream entries: ${(only -- known).toSeq.sorted.mkString(", ")}" +
        s" — known: ${known.toSeq.sorted.mkString(", ")}")
    def want(n: String) = only.isEmpty || only(n)
    val reps = sys.env.get("SPARK_GRAFT_SCALE_REPS")
      .flatMap(_.toIntOption).getOrElse(3).max(1)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = s"/tmp/graft_scale/x$factor"
    val numFiles = 8
    val spark = graft.core.SessionConf.local(defaultCpus = 8)
    // every replay here starts at the stream harness's state-partition
    // count, like the registered streaming entries
    graft.core.SessionConf.scoped(spark, "spark.sql.shuffle.partitions" ->
        graft.streaming.Streams.ReplayStatePartitions.toString) {
      Scale.buildScaled(spark, base, out, factor)

      val rows = scala.collection.mutable.ArrayBuffer.empty[
        (String, String, Seq[Double], Long)]

      Seq("1x" -> base, s"${factor}x" -> out).foreach { case (scale, dir) =>
        lazy val staged = graft.queries.StreamingQ.stageFrameChunks(
          graft.core.Tables(spark, dir, "documents"),
          Seq(col("doc_id")), s"sst_${scale}", numFiles,
          blockBytes = Some(64L * 1024))

        if (want("q_stream_dedup_lsh")) {
        // LSH admission: fresh state per rep, per-batch min across reps
        val lshWalls = minOver(reps) {
          val st = tmpDir("lshstate"); val ck = tmpDir("lshck")
          replayTimed(spark, staged,
            s => graft.streaming.StreamDedup.lshAdmit(s, st.toString, ck.toString))
        }
        // state rows after ONE replay (deterministic — re-read the last rep
        // via a fresh run would duplicate work; rows = banded + shingle)
        val lshSt = tmpDir("lshstrows"); val lshCk = tmpDir("lshckrows")
        replayTimed(spark, staged, s =>
          graft.streaming.StreamDedup.lshAdmit(s, lshSt.toString, lshCk.toString))
        val lshRows = spark.read.parquet(s"$lshSt/bands").count() +
          spark.read.parquet(s"$lshSt/sh").count()
        rows += (("q_stream_dedup_lsh", scale, lshWalls, lshRows))
        }

        if (want("q_stream_dedup_winnow")) {
        val wnWalls = minOver(reps) {
          val st = tmpDir("wnstate"); val ck = tmpDir("wnck")
          replayTimed(spark, staged,
            s => graft.streaming.StreamDedup.winnowAdmit(s, st.toString, ck.toString))
        }
        val wnSt = tmpDir("wnstrows"); val wnCk = tmpDir("wnckrows")
        replayTimed(spark, staged, s =>
          graft.streaming.StreamDedup.winnowAdmit(s, wnSt.toString, wnCk.toString))
        val wnRows = spark.read.parquet(s"$wnSt/fps").count()
        rows += (("q_stream_dedup_winnow", scale, wnWalls, wnRows))
        }

        if (want("q_stream_dedup_containment")) {
        // measured at the production maintenance cadence (fold every 2
        // batches): steady state per trigger = batch work + one scan of
        // [compacted base + ≤2 live dirs]
        val ctWalls = minOver(reps) {
          val st = tmpDir("ctstate"); val ck = tmpDir("ctck")
          replayTimed(spark, staged,
            s => graft.streaming.StreamDedup.containAdmit(s, st.toString, ck.toString),
            foldEvery = 2, stateRoot = Some(st.toString))
        }
        val ctSt = tmpDir("ctstrows"); val ctCk = tmpDir("ctckrows")
        replayTimed(spark, staged, s =>
          graft.streaming.StreamDedup.containAdmit(s, ctSt.toString, ctCk.toString))
        val ctRows = spark.read.parquet(s"$ctSt/post").count()
        rows += (("q_stream_dedup_containment", scale, ctWalls, ctRows))
        }

        // SATURATED-SHINGLE corpus (round-15 verdict ask): the same
        // documents with a 6-token boilerplate run injected into 30% of
        // them — every hot shingle's posting list grows with the corpus,
        // so a raw-forced replay's candidate aggregate is
        // Σ df_state·df_batch ~ 0.09·N²/64 per hot shingle per late batch
        // (quadratic in corpus size), while the auto pick flips to the
        // prefix filter (hot shingles fall outside every rarest-first
        // prefix) and stays candidate-bounded. Two rows: auto (the
        // default production path — bounded walls) and hotraw (the
        // round-14 manual-knob regime, kept measurable as the refutation
        // baseline). Same fold cadence as the plain containment row.
        if (want("q_stream_dedup_containment_hot") ||
            want("q_stream_dedup_containment_hotraw")) {
        lazy val hotStaged = graft.queries.StreamingQ.stageFrameChunks(
          graft.core.Tables(spark, dir, "documents").withColumn("text",
            when(pmod(col("doc_id"), lit(10)) < 3,
              concat(lit("boiler plate header every crawl page repeats "),
                col("text")))
              .otherwise(col("text"))),
          Seq(col("doc_id")), s"sst_hot_${scale}", numFiles,
          blockBytes = Some(64L * 1024))
        Seq("q_stream_dedup_containment_hot" -> "auto",
            "q_stream_dedup_containment_hotraw" -> "raw").foreach {
          case (entry, strat) =>
            if (want(entry)) {
              val walls = minOver(reps) {
                val st = tmpDir("hotstate"); val ck = tmpDir("hotck")
                replayTimed(spark, hotStaged,
                  s => graft.streaming.StreamDedup.containAdmit(
                    s, st.toString, ck.toString, strategy = strat),
                  foldEvery = 2, stateRoot = Some(st.toString))
              }
              rows += ((entry, scale, walls, -1L))
            }
        }
        }

        if (want("q_stream_dedup_ladder")) {
        // composed 4-tier ladder over ONE shared state family; rows =
        // shingle state (stored once — the unification claim)
        val ldWalls = minOver(reps) {
          val st = tmpDir("ldstate"); val ck = tmpDir("ldck")
          replayTimed(spark, staged,
            s => graft.streaming.StreamDedup.ladderAdmit(s, st.toString, ck.toString))
        }
        val ldSt = tmpDir("ldstrows"); val ldCk = tmpDir("ldckrows")
        replayTimed(spark, staged, s =>
          graft.streaming.StreamDedup.ladderAdmit(s, ldSt.toString, ldCk.toString))
        val ldRows = spark.read.parquet(s"$ldSt/sh").count()
        rows += (("q_stream_dedup_ladder", scale, ldWalls, ldRows))
        }

        if (want("q_stream_domain_cap")) {
        // domain cap: Complete-mode heap aggregate; state rows from the
        // final progress (the |sources|·k claim — one store row per
        // source, each a serialized k=3 heap buffer)
        val capWalls = minOver(reps) {
          val name = s"sst_cap_${scale}_${System.nanoTime()}"
          val ck = tmpDir("capck")
          replayTimed(spark, staged, s => {
            val top = graft.queries.Corpus.domainCapTop(
              graft.queries.Corpus.sourceScored(s))
            top.writeStream.outputMode("complete")
              .option("checkpointLocation", ck.toString)
              .format("memory").queryName(name).start()
          })
        }
        // a one-off replay to read the state-store row count
        val capCk = tmpDir("caprowsck")
        var lastQ: org.apache.spark.sql.streaming.StreamingQuery = null
        replayTimed(spark, staged, s => {
          val top = graft.queries.Corpus.domainCapTop(
            graft.queries.Corpus.sourceScored(s))
          lastQ = top.writeStream.outputMode("complete")
            .option("checkpointLocation", capCk.toString)
            .format("memory").queryName(s"sst_caprows_${scale}").start()
          lastQ
        })
        val capState = Option(lastQ.lastProgress)
          .flatMap(p => p.stateOperators.headOption)
          .map(_.numRowsTotal).getOrElse(-1L)
        rows += (("q_stream_domain_cap", scale, capWalls, capState))
        }

        if (want("q_stream_index_insert")) {
        // index maintenance: base forest over THIS scale's resident 3/4,
        // streamed batches of FIXED 1× size — flat walls across scales is
        // the O(batch) claim
        val e = graft.core.Tables.spread(graft.core.Tables(spark, dir, "embeddings"))
        val e1 = graft.core.Tables(spark, base, "embeddings")
        val batchCount = e1.filter(col("vec_id") % 4 === 0).count()
        val model = graft.index.GannIndex.build(
          e.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
          leafSize = 200, spill = 0.15, nTrees = 3)
        val arriving = e.filter(col("vec_id") % 4 === 0)
          .orderBy(col("vec_id")).limit(batchCount.toInt)
          .select(col("vec_id"), col("embedding"))
        val idxStaged = graft.queries.StreamingQ.stageFrameChunks(
          arriving, Seq(col("vec_id")), s"sst_idx_${scale}", 4)
        val idxWalls = minOver(reps) {
          val path = tmpDir("idx"); val ck = tmpDir("idxck")
          graft.index.GannIndex.save(model, path.toString)
          replayTimed(spark, idxStaged, s =>
            graft.streaming.IndexMaintain.maintainGann(
              s, model, path.toString, ck.toString))
        }
        val baseRows = model.assign.count()
        rows += (("q_stream_index_insert", scale, idxWalls, baseRows))
        }
      }

      println("| entry | corpus | b1 | mid | bN | state/base rows |")
      println("| --- | --- | --- | --- | --- | --- |")
      val json = rows.map { case (entry, scale, walls, st) =>
        val b1 = walls.head; val bn = walls.last
        val mid = walls(walls.size / 2)
        println(f"| $entry | $scale | $b1%.2f | $mid%.2f | $bn%.2f | $st |")
        val ws = walls.map(w => f"$w%.3f").mkString("[", ",", "]")
        s"""{"entry":"$entry","scale":"$scale","walls":$ws,"rows":$st}"""
      }.mkString("[", ",\n", "]")
      val dir = java.nio.file.Paths.get("target")
      java.nio.file.Files.createDirectories(dir)
      // a subset re-measure must not clobber the full-table artifact
      val artifact =
        if (only.isEmpty) "scale_stream.json" else "scale_stream_subset.json"
      java.nio.file.Files.write(dir.resolve(artifact),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
