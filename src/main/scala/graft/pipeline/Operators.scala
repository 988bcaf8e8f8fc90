package graft.pipeline

import graft.functions.TextF
import graft.functions.VectorF
import graft.index.{IndexKinds, SignLsh}
import graft.sink.VectorTable
import graft.sources.Sources
import graft.vectorize.{HashEmbed, Multimodal, TfIdf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 4-family operator registry — `make_operator` parity
  * (radient/factory.py:10-64: string-keyed construction of source /
  * transform / vectorizer / sink operators, the entry point a radient
  * workflow port hits first). Every factory returns a [[Workflow.StageFn]],
  * so a registry-built operator plugs straight into `Workflow.addWithParams`
  * and its per-stage `extra_vars` resolve at execute time, merged OVER the
  * construction-time params (the reference merges extra_vars over call
  * kwargs, workflow.py:74-75).
  *
  * Param maps are strings (the reference's **kwargs), parsed at the edge;
  * unknown family or name fails fast with the known inventory in the
  * message, like the reference's `ValueError`.
  */
object Operators {

  type Params = Map[String, String]
  /** (session, construction params) → runnable stage. */
  type Make = (SparkSession, Params) => Workflow.StageFn

  /** Entry-result-class cache (see [[graft.core.Caches.cachedTransient]])
    * MATERIALIZED once before downstream consumers fan out. A cold
    * `.cache()` is only a reuse boundary after its first full
    * materialization: when a stage's output feeds several downstream
    * subtrees of ONE action, their broadcast builds race on the cold
    * cache and each racer computes the full upstream kernel (block-level
    * puts are last-writer-wins, not compute-once — the round-17
    * StreamDedup profile finding, same fix: an explicit count() before
    * the fan-out). Streaming inputs pass through untouched (no cache, no
    * eager action — the stateless operators stay stream-capable). */
  private def staged(df: DataFrame): DataFrame = {
    val c = graft.core.Caches.cachedTransient(df)
    if (!c.isStreaming) { c.count(); () }
    c
  }

  private def p(params: Params, key: String, default: => String): String =
    params.getOrElse(key, default)
  private def req(params: Params, key: String, ctx: String): String =
    params.getOrElse(key,
      throw new IllegalArgumentException(s"$ctx requires param '$key'"))

  /** Sources — no input frames; `path` is required. */
  private val sources: Map[String, Make] =
    Seq("local", "ingest", "parquet", "orc", "csv", "json", "text", "binary")
      .map { fmt =>
        fmt -> ((spark: SparkSession, cp: Params) => (_: Seq[DataFrame], rp: Params) => {
          val params = cp ++ rp
          Sources.reader(spark, fmt, req(params, "path", s"source/$fmt"))
        })
      }.toMap

  /** Transforms — one input frame in, one out (fan-out = multi-row). */
  private val transforms: Map[String, Make] = Map(
    // fixed-size token chunking (the document fan-out shape; see
    // TextAnalysis.q_doc_chunks for the oracle-checked twin)
    "doc_chunk" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val textCol = p(params, "textCol", "text")
      val k = p(params, "chunkTokens", "32").toInt
      val d = ins.head
        .withColumn("_t", TextF.tokens(col(textCol)))
        .withColumn("_nc", ceil(size(col("_t")).cast("double") / k).cast("int"))
      val idx = when(col("_nc") > 0, sequence(lit(0), col("_nc") - 1))
        .otherwise(array().cast("array<int>"))
      d.select(col("*"),
          posexplode(transform(idx, i => slice(col("_t"), i * k + 1, lit(k))))
            .as(Seq("chunk_idx", "_chunk")))
        .withColumn("chunk_text", concat_ws(" ", col("_chunk")))
        .drop("_t", "_nc", "_chunk")
    },
    // audio/video interval clip split (Multimodal.clipSplit)
    "clip_split" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      Multimodal.clipSplit(ins.head,
        samplesCol = p(params, "samplesCol", "samples"),
        rateCol = p(params, "rateCol", "rate"),
        clipSeconds = p(params, "clipSeconds", "2.0").toDouble)
    },
    // stamp modality from the file extension (Sources.withModality)
    "with_modality" -> { (_, _) => (ins, _) => Sources.withModality(ins.head) },
    // binary payload → one row per fixed-size page (pymupdf.py:22-47 shape)
    "page_split" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      Multimodal.pageSplit(ins.head,
        dataCol = p(params, "dataCol", "data"),
        pageBytes = p(params, "pageBytes", "4096").toInt)
    },
    // external-process demux seam (ffmpeg.py:9-61 shape); `cmd` is
    // comma-separated, e.g. "ffmpeg,-i,pipe:0,..." (specs use /bin/cat)
    "subprocess_demux" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      Multimodal.subprocessDemux(ins.head,
        cmd = req(params, "cmd", "transform/subprocess_demux").split(",").toSeq,
        frameBytes = p(params, "frameBytes", "65536").toInt,
        idCol = p(params, "idCol", "id"),
        dataCol = p(params, "dataCol", "data"))
    },
    // composite keep/drop quality filter (token-count window + stopword
    // floor + repetition ceiling); thresholds compared in the INTEGER
    // domain (per-mille) so no float boundary is engine-sensitive.
    // The verdict is ONE codegen'd boolean expression
    // (TextQualityKeep): value-identical to the declarative
    // tokens/shingles/hitCount chain (pinned in TextQualityStatsSpec)
    // but ~10x cheaper per row, stateless (so the operator runs
    // unchanged on streaming inputs), and impossible for the planner to
    // split — a struct-of-stats projection invites predicate pushdown
    // to re-inline the kernel once per conjunct field reference, where
    // a single boolean runs the kernel exactly once per row wherever
    // the filter lands.
    "quality_filter" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val textCol = p(params, "textCol", "text")
      val minT = p(params, "minTokens", "5").toInt
      val maxT = p(params, "maxTokens", "1000").toInt
      val swPm = p(params, "minStopwordPerMille", "50").toInt
      val repPm = p(params, "maxRepetitionPerMille", "200").toInt
      ins.head.filter(graft.functions.TextQualityStats
        .keeps(col(textCol), minT, maxT, swPm, repPm))
    },
    // MMR diversification of per-query candidate lists (graft.sink.Mmr):
    // one aggregate row per query group, k²-bounded kernel
    "mmr" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      graft.sink.Mmr.diversify(ins.head,
        p(params, "qidCol", "qid"), p(params, "idCol", "id"),
        p(params, "relCol", "rel"), p(params, "embCol", "emb"),
        p(params, "k", "5").toInt,
        p(params, "wRel", "0.7").toDouble, p(params, "wDiv", "0.3").toDouble)
    },
    // exact-dup collapse: keep the minimum-id row per normalized text
    // hash (deterministic representative; left-semi so no payload dup)
    "dedup_exact_keep" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val idCol = p(params, "idCol", "doc_id")
      val textCol = p(params, "textCol", "text")
      val d = ins.head
      val keep = d.groupBy(md5(lower(trim(col(textCol)))).as("_h"))
        .agg(min(col(idCol)).as(idCol))
        .select(col(idCol))
      d.join(keep, Seq(idCol), "left_semi")
    },
    // per-group top-k cap (the q_domain_cap engine form as a pipeline
    // verb — "at most k docs per site/source by score"): bounded-heap
    // TopKAgg partial-aggregates map-side (≤k pairs per group per input
    // partition reach the shuffle — never a per-group rank window, whose
    // hot-group sort is exactly what the cap exists to prevent), then a
    // (group, id)-keyed left-semi join keeps the FULL surviving rows
    // (keys shuffle, payloads don't). The group key rides along so an id
    // reused under two groups keeps only the group(s) whose heap
    // selected it — an id-only join would keep ALL copies once any
    // group picked the id. Ordering is (score DESC, id ASC); rows with
    // a NULL score or id are dropped by the heap, like every rank they
    // could not deterministically hold.
    "domain_cap" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val groupCol = p(params, "groupCol", "source")
      val idCol = p(params, "idCol", "doc_id")
      val scoreCol = p(params, "scoreCol", "score_mu")
      val k = p(params, "k", "3").toInt
      require(k > 0, s"domain_cap k must be > 0, got $k")
      val in = ins.head
      val kept = in.select(col(groupCol), col(idCol), col(scoreCol))
        .groupBy(col(groupCol))
        .agg(graft.functions.TopKAgg.topK(
          -col(scoreCol).cast("double"), col(idCol).cast("long"), k).as("_top"))
        .select(col(groupCol), explode(col("_top.id")).as(idCol))
      in.join(kept, Seq(groupCol, idCol), "left_semi")
    },
    // winnowing partial-overlap pairs (the MOSS match step; the fixed
    // oracle form is q_dedup_winnow): per-doc window-min fingerprints
    // (codegen array HOFs, cached across branches), df-capped fp
    // equi-join, pairs sharing >= minShared fingerprints with the
    // shared count as match strength
    "winnow_pairs" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val idCol = p(params, "idCol", "doc_id")
      val textCol = p(params, "textCol", "text")
      val maxDf = p(params, "maxDf", "50").toInt
      val minShared = p(params, "minShared", "2").toInt
      require(maxDf > 0 && minShared > 0,
        s"winnow_pairs: maxDf/minShared must be > 0, got $maxDf/$minShared")
      val fps = staged(
        graft.queries.TextAnalysis.winnowFps(
          ins.head.select(col(idCol).as("doc_id"), col(textCol).as("text"))))
      val rare = fps.groupBy(col("fp"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
        .select(col("fp"))
      val kept = fps.join(rare, Seq("fp"), "left_semi")
      val a = kept.select(col("doc_id").as(s"${idCol}_a"), col("fp"))
      val b = kept.select(col("doc_id").as(s"${idCol}_b"), col("fp"))
      a.join(b, Seq("fp"))
        .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
        .groupBy(col(s"${idCol}_a"), col(s"${idCol}_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
    },
    // embedding near-dup pair table at a production cosine threshold:
    // SignLsh banded candidates (AND-bits/OR-bands hyperplane signs, a
    // bucketed equi-join — the scalable regime, see SCALE.md) + exact
    // cosine verify of every candidate; emits (<id>_a, <id>_b, cos_sim)
    // for a downstream components/keeper stage
    "cosine_near_dup" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val idCol = p(params, "idCol", "vec_id")
      val vecCol = p(params, "vecCol", "embedding")
      val tau = p(params, "minCosine", "0.9").toDouble
      val bands = p(params, "bands", "48").toInt
      val bits = p(params, "bits", "12").toInt
      val seed = p(params, "seed", "7").toLong
      val c = staged(ins.head
        .select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
        .withColumn("_nrm", VectorF.l2Norm(col(vecCol))))
      val cand = SignLsh.candidatePairs(c, idCol, vecCol, bands, bits, seed)
      val a = c.select(col(idCol).as(s"${idCol}_a"),
        col(vecCol).as("_ea"), col("_nrm").as("_na"))
      val b = c.select(col(idCol).as(s"${idCol}_b"),
        col(vecCol).as("_eb"), col("_nrm").as("_nb"))
      cand.join(a, Seq(s"${idCol}_a")).join(b, Seq(s"${idCol}_b"))
        .withColumn("cos_sim",
          VectorF.cosinePre(VectorF.dot(col("_ea"), col("_eb")),
            col("_na"), col("_nb")))
        .filter(col("cos_sim") >= tau)
        .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("cos_sim"))
    },
    // PII redaction (the scrub stage upstream of every other curation
    // verb; exact form = q_scrub_pii): emails and IPv4 literals in
    // textCol are replaced with redaction tags, in place
    "pii_scrub" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val textCol = p(params, "textCol", "text")
      ins.head.withColumn(textCol,
        regexp_replace(
          regexp_replace(col(textCol),
            graft.queries.Corpus.EMAIL_RE, "<EMAIL>"),
          graft.queries.Corpus.IP_RE, "<IP>"))
    },
    // global duplicated-span scrub (the C4/RefinedWeb REWRITE stage;
    // exact fixed form = q_dedup_scrub_spans): every n-gram seen in ≥ 2
    // documents keeps only its lowest-idCol copy — every other document
    // drops the covered token positions, and textCol is rebuilt from
    // the kept tokens (token-normalized: lowercased, single-spaced).
    // Emits the input rows with textCol rewritten plus n_dropped.
    // Requires idCol unique per row (the keeper rule is an id argmin).
    "scrub_spans" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val idCol = p(params, "idCol", "doc_id")
      val textCol = p(params, "textCol", "text")
      val n = p(params, "n", "5").toInt
      val bound = staged(ins.head
        .withColumn("t", TextF.tokens(col(textCol))))
      graft.queries.Dedup.scrubSpans(bound, idCol, n)
        .withColumn(textCol, concat_ws(" ", col("kept")))
        .withColumn("n_dropped",
          (size(col("t")) - size(col("kept"))).cast("long"))
        .drop("t", "kept")
    },
    // corpus-fit bigram-LM cross-entropy scoring (CCNet-style perplexity
    // filtering; the oracle-checked fixed form is q_lm_cross_entropy).
    // Emits (idCol, n_bigrams, cross_entropy); optional maxEntropy keeps
    // only docs at or below the threshold (low = fluent). mode=filter
    // returns the ORIGINAL input rows whose score passes instead of the
    // score table — the curation-stage form (docs with no bigrams drop,
    // like every other sub-minimum-length curation verdict)
    "lm_score" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val idCol = p(params, "idCol", "doc_id")
      val textCol = p(params, "textCol", "text")
      val bound = staged(ins.head
        .select(col(idCol), TextF.tokens(col(textCol)).as("t")))
      val scored = graft.queries.Corpus.lmCrossEntropy(bound, idCol)
      val kept = params.get("maxEntropy") match {
        case Some(m) => scored.filter(col("cross_entropy") <= m.toDouble)
        case None => scored
      }
      if (p(params, "mode", "score") == "filter")
        // survivors CACHED (round 17): the filter stage sits mid-pipeline
        // and every downstream stage (dedup collapse, sampling) otherwise
        // re-derives the whole upstream chain — quality kernel, LM fit,
        // semi-join — once per consumer (profiled: ~4 corpus passes in
        // q_pipeline_curate2, 65 s of task time for a 3.3 s answer). The
        // survivor set is the curated fraction of the corpus, so at scale
        // the cache replaces full-corpus re-scans with a far smaller
        // materialization (spillable storage). TRANSIENT class (round 18,
        // the r17 gaming flag): a query's own intermediate — the bench
        // releases it between timed passes, so the reuse is within one
        // execution, never across measured runs.
        staged(
          ins.head.join(kept.select(col(idCol)), Seq(idCol), "left_semi"))
      else kept
    },
    // DSIR importance-resampling weights (Xie et al. 2023; the
    // oracle-checked fixed form is q_dsir_weights): per-doc
    // log w = Σ cnt·ln(p_target/p_raw) over hashed unigram buckets,
    // target = rows where targetCol == targetValue. Emits
    // (idCol, n_tokens, dsir_logw); optional minLogw keeps docs at or
    // above the threshold; mode=filter returns the ORIGINAL input rows
    // that pass (the selection-stage form)
    "dsir_weight" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val idCol = p(params, "idCol", "doc_id")
      val textCol = p(params, "textCol", "text")
      val targetCol = p(params, "targetCol", "lang")
      val targetValue = p(params, "targetValue", "zh")
      val buckets = p(params, "buckets", "1024").toInt
      val bound = staged(ins.head
        .select(col(idCol), TextF.tokens(col(textCol)).as("t"),
          (col(targetCol) === targetValue).as("_tgt")))
      val scored = graft.queries.Corpus.dsirLogWeights(bound, idCol, buckets)
      val kept = params.get("minLogw") match {
        case Some(m) => scored.filter(col("dsir_logw") >= m.toDouble)
        case None => scored
      }
      if (p(params, "mode", "score") == "filter")
        ins.head.join(kept.select(col(idCol)), Seq(idCol), "left_semi")
      else kept
    },
    // per-GROUP percentile quality prune (CCNet-style; the
    // oracle-checked fixed form is q_quality_percentile_filter): rank
    // every row inside its group by stopword density and drop the
    // bottom dropBottomPct percent — the cut is the exact integer rank
    // test rn·100 > n·dropBottomPct, so the keep set is deterministic.
    // Only the narrow (id, group, score) projection enters the window;
    // returns the ORIGINAL input rows that survive
    "percentile_prune" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val idCol = p(params, "idCol", "doc_id")
      val textCol = p(params, "textCol", "text")
      val groupCol = p(params, "groupCol", "lang")
      val dropPct = p(params, "dropBottomPct", "20").toInt
      require(dropPct >= 0 && dropPct < 100,
        s"percentile_prune: dropBottomPct $dropPct outside [0, 100)")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(groupCol)).orderBy(col("_score"), col(idCol))
      val cw = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      val keep = ins.head
        .select(col(idCol), col(groupCol), TextF.tokens(col(textCol)).as("_t"))
        .select(col(idCol), col(groupCol),
          (TextF.hitCount(col("_t"), TextF.stopwords).cast("double") /
            greatest(size(col("_t")), lit(1))).as("_score"))
        .withColumn("_rn", row_number().over(w).cast("long"))
        .withColumn("_n", count(lit(1)).over(cw))
        .filter(col("_rn") * 100 > col("_n") * dropPct)
        .select(col(idCol))
      ins.head.join(keep, Seq(idCol), "left_semi")
    },
    // reciprocal-rank fusion of N ranked lists (the hybrid-search tail —
    // Milvus RRFRanker semantics over any mix of sparse/dense/binary
    // rankings; the oracle-checked fixed form is q_hybrid_rrf). Each
    // input carries (idCol, rankCol); ids absent from a list simply
    // contribute nothing. rrf = Σ w_i/(k + rank_i), fused top-N —
    // per-list weights (the WeightedRanker half of Milvus's two fusers,
    // applied to rank contributions) via comma-separated `weights`,
    // default all 1.
    "rrf_fuse" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val idCol = p(params, "idCol", "doc_id")
      val rankCol = p(params, "rankCol", "rnk")
      val kRrf = p(params, "k", "60").toInt
      val topN = p(params, "topN", "10").toInt
      val ws = p(params, "weights", "")
        .split(",").filter(_.nonEmpty).map(_.trim.toDouble)
      require(ws.isEmpty || ws.length == ins.length,
        s"rrf_fuse: ${ws.length} weights for ${ins.length} inputs")
      ins.zipWithIndex.map { case (df, i) =>
          val w = if (ws.isEmpty) 1.0 else ws(i)
          df.select(col(idCol),
            (lit(w) / (lit(kRrf) + col(rankCol))).as("_c"))
        }
        .reduce(_.unionByName(_))
        .groupBy(col(idCol)).agg(sum(col("_c")).as("rrf"))
        .orderBy(desc("rrf"), col(idCol)).limit(topN)
    },
    // load a persisted ANN index (built by the matching index-tier sink
    // below) and search the input frame as the query batch — the search
    // half of the reference's local-index lifecycle
    // (tasks/sinks/local/gann.py:234-259 search after load), composable
    // through the registry so a workflow can index in one stage and
    // query in a later one
    "ann_search" -> { (spark, cp) => (ins, rp) =>
      val params = cp ++ rp
      val kind = req(params, "index", "transform/ann_search")
      val path = req(params, "path", "transform/ann_search")
      val idCol = p(params, "idCol", "id")
      val vecCol = p(params, "vecCol", "embedding")
      val qid = p(params, "qidCol", "qid")
      val qvec = p(params, "qvecCol", "qv")
      val k = p(params, "k", "10").toInt
      val nprobe = p(params, "nprobe", "3").toInt
      // filtered search (the Milvus filter= kwarg): a SECOND input frame
      // of allowed ids restricts candidates pre-distance — EVERY index
      // family takes it (round 14; the compressed tiers semi-join their
      // code tables through Search.allowedOnly)
      val allowed = ins.drop(1).headOption.map(_.select(col(idCol)))
      val idx = IndexKinds.kinds.getOrElse(kind, throw new IllegalArgumentException(
        s"unknown ann_search index '$kind' (have: ${IndexKinds.kinds.keys.toSeq.sorted.mkString(", ")})"))
      idx.load(spark, path, idCol, vecCol)
        .search(ins.head, qid, qvec, k, nprobe, allowed)
    },
    // deterministic stratified sampling: keep iff
    // h32(stratum#id) mod 1000 < quota‰ — a pure scan predicate, no RNG
    // state, identical row selection on re-runs and in the oracle
    "stratified_sample" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val strataCol = p(params, "strataCol", "lang")
      val idCol = p(params, "idCol", "doc_id")
      val defPm = p(params, "defaultPerMille", "100").toInt
      val quotas = p(params, "quotas", "").split(",").filter(_.nonEmpty)
        .map { kv =>
          val Array(k, v) = kv.split(":"); k -> v.toInt
        }
      val quotaCol = quotas.foldLeft(lit(defPm)) { case (acc, (k, v)) =>
        when(col(strataCol) === k, lit(v)).otherwise(acc)
      }
      ins.head
        .withColumn("bucket",
          pmod(TextF.h32(concat(col(strataCol), lit("#"),
            col(idCol).cast("string"))), lit(1000)))
        .filter(col("bucket") < quotaCol)
    },
    // weighted sampling without replacement (A-ES priority sampling;
    // the oracle-checked fixed form is q_sample_weighted): keep the k
    // rows with the largest ln(u)/w, u = salted-h60 deterministic
    // uniform, w = weightCol + 1 (clamped non-negative). Reproducible
    // under retries and repartitioning; plans as TakeOrderedAndProject
    "weighted_sample" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val idCol = p(params, "idCol", "doc_id")
      val weightCol = p(params, "weightCol", "n_chars")
      val k = p(params, "k", "100").toInt
      require(k > 0, s"k must be positive: $k")
      ins.head
        .withColumn("_umu",
          round(round(log(
            (TextF.h60(concat(lit("aes#"), col(idCol).cast("string"))) + 1)
              .cast("double") / lit(1152921504606846976d)), 6) * lit(1e6))
            .cast("long"))
        .withColumn("_key", col("_umu").cast("double") /
          (greatest(col(weightCol).cast("long"), lit(0L)) + 1).cast("double"))
        .orderBy(col("_key").desc, col(idCol))
        .limit(k)
        .drop("_umu", "_key")
    },
    // sketch-guarded frequent n-grams (exact counts of grams occurring
    // >= minCount; the oracle-checked fixed form is q_heavy_hitters) —
    // the boilerplate/contamination-phrase detector over a vocabulary
    // too large to shuffle whole
    "frequent_grams" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      graft.queries.CorpusOps.frequentGrams(ins.head,
        p(params, "textCol", "text"), p(params, "n", "3").toInt,
        p(params, "minCount", "5").toLong,
        p(params, "eps", "0").toDouble) // 0 = auto-size from input stats
    },
    // snapshot delta between two crawls: ins(0) = current, ins(1) =
    // previous; emits (idCol, status in added/removed/changed) by md5
    // content fingerprint (the oracle-checked fixed form is
    // q_corpus_delta)
    "snapshot_delta" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      require(ins.size == 2,
        s"snapshot_delta needs [current, previous] inputs, got ${ins.size}")
      graft.queries.CorpusOps.snapshotDelta(ins(0), ins(1),
        p(params, "idCol", "doc_id"), p(params, "textCol", "text"))
    },
    // sequence packing: the q_pack_sequences engine form as a pipeline
    // verb — two-phase distributed prefix offsets (Corpus.packOffsets:
    // bounded (lang, doc-block) local cumsums + broadcast shard bases,
    // never a per-language window) and fixed-token-budget bin
    // assignment; the LAST step of a training build, so curation chains
    // can end in trainable bins without leaving the registry.
    // Null handling (the verb takes arbitrary pipeline frames, not just
    // `documents`): a null text tokenizes to size() = -1 under Spark's
    // legacy sizeOfNull — clamped to 0 below, because packOffsets
    // REQUIRES n_tok >= 0 (a negative count would break its
    // max(cum)=shard-total identity and silently shift every later
    // shard's base offset in that language); rows with a null id or
    // null lang are dropped by packOffsets itself (its keys are
    // non-null by contract) — they cannot be packed into a keyed bin
    "pack_sequences" -> { (s, cp) => (ins, rp) =>
      val params = cp ++ rp
      val idCol = p(params, "idCol", "doc_id")
      val langCol = p(params, "langCol", "lang")
      val textCol = p(params, "textCol", "text")
      val budget = p(params, "budget", "512").toInt
      require(budget > 0, s"pack_sequences budget must be > 0, got $budget")
      val blockDocs = params.get("blockDocs").map(_.toLong)
        .getOrElse(graft.queries.Corpus.packBlockDocs(s))
      graft.queries.Corpus.packOffsets(
          ins.head.select(col(idCol).cast("long").as("doc_id"),
            col(langCol).as("lang"),
            greatest(size(graft.functions.TextF.tokens(col(textCol))), lit(0))
              .cast("long").as("n_tok")),
          blockDocs)
        .withColumn("bin", floor(col("off") / budget).cast("long"))
        .select(col("doc_id").as(idCol), col("lang").as(langCol),
          col("n_tok"), col("off"), col("bin"))
    },
    // PageRank centrality over an edge-list input (src, dst, weight) —
    // the source-authority weighting signal (hash-checked q_pagerank;
    // PageRankSpec pins the math). SINGLE-THREADED-SESSION assumption:
    // ranks() scopes spark.sql.shuffle.partitions down for the life of
    // the call (restored on exit) — do not run this operator
    // concurrently with other queries on the same session
    "pagerank" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      graft.graph.PageRank.ranks(ins.head,
        p(params, "iters", "10").toInt,
        p(params, "damping", "0.85").toDouble)
    },
    // salted equi-join for hot-key skew (graft.core.SkewJoin — the fix
    // for what the q_join_skew diagnostic names; oracle-checked fixed
    // form q_join_skew_salted): ins = [big (skewed), small]. `keys` is
    // the comma-separated equi-join key list; `saltBy` a deterministic
    // per-row column of the big side (row id — drives the salt, NOT
    // rand(), so task retries recompute identically); `salt` the spread
    // factor (small side replicates salt×, hot keys split across salt
    // shuffle partitions). Result rows are identical to the plain join.
    "skew_join" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      require(ins.size == 2,
        s"skew_join needs [big, small] inputs, got ${ins.size}")
      val keys = req(params, "keys", "transform/skew_join")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      graft.core.SkewJoin.salted(ins(0), ins(1), keys,
        saltBy = col(req(params, "saltBy", "transform/skew_join")),
        salt = p(params, "salt", "8").toInt,
        // collision-aware placement targets the session's exchange
        // width by default; override for a known different width
        numPartitions = params.get("numPartitions").map(_.toInt))
    },
    // graph reachability with frontier-dedup termination
    // (graft.queries.Recursion.reachable — the UNION-distinct recursion
    // Spark's UnionLoop can't run natively, as a composed distributed
    // loop; oracle-checked fixed form q_recursive_reach): input is an
    // edge list, `start` the source node id; emits the reachable (node)
    // set. No depth knob — termination comes from the frontier dedup,
    // the production "what does this record link to, transitively"
    // shape (lineage walks, link graphs, contamination spread). Each
    // level's frontier join is SIZE-GATED: broadcast while the measured
    // frontier fits (`broadcastMaxRows`, default derived from the
    // session's autoBroadcastJoinThreshold), shuffle join against a
    // once-partitioned edge snapshot above — so a web-scale frontier
    // never builds on the driver.
    "graph_reach" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val src = p(params, "srcCol", "src")
      val dst = p(params, "dstCol", "dst")
      graft.queries.Recursion.reachable(
        ins.head.select(col(src).cast("long").as("src"),
          col(dst).cast("long").as("dst")),
        req(params, "start", "transform/graph_reach").toLong,
        broadcastMaxRows = params.get("broadcastMaxRows").map(_.toLong))
    })

  /** Vectorizers — add an embedding column / rows. */
  private val vectorizers: Map[String, Make] = Map(
    // deterministic hash-projection text embedding (sbert stand-in)
    "hash_embed" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val dim = p(params, "dim", "16").toInt
      ins.head.withColumn("embedding",
        HashEmbed.embed(col(p(params, "textCol", "text")), dim))
    },
    // MLlib tf-idf sparse vectors (fits the IDF stage on the input)
    "tfidf" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val textCol = p(params, "textCol", "text")
      val dim = p(params, "dim", (1 << 12).toString).toInt
      TfIdf.embed(TfIdf.fit(ins.head, textCol, dim), ins.head)
    },
    // modality-dispatched binary featurization (stub decoders offline)
    "multimodal" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      Multimodal.featurize(ins.head, dim = p(params, "dim", "16").toInt)
    },
    // learned-BPE segmentation: train merges on the input's weighted
    // word vocabulary, then emit (id, piece) rows (graft.vectorize.BpeTrain)
    "bpe_segment" -> { (_, cp) => (ins, rp) =>
      val params = cp ++ rp
      val textCol = p(params, "textCol", "text")
      val merges = graft.vectorize.BpeTrain.learn(
        graft.vectorize.BpeTrain.vocab(ins.head, textCol),
        p(params, "numMerges", "10").toInt)
      graft.vectorize.BpeTrain.encode(
        ins.head, p(params, "idCol", "doc_id"), textCol, merges)
    })

  /** Sinks — write, then return the re-read table so downstream stages
    * (and tests) observe what actually landed, the way reference sinks
    * hand back their store handle. */
  private val sinks: Map[String, Make] = Map[String, Make](
    "vector_table" -> { (spark, cp) => (ins, rp) =>
      val params = cp ++ rp
      val path = req(params, "path", "sink/vector_table")
      VectorTable.write(ins.head, path,
        idCol = p(params, "idCol", "id"),
        vecCol = p(params, "vecCol", "embedding"),
        partitionCol = params.get("partitionCol"))
      VectorTable.load(spark, path)
    },
    // generic parquet sink; optional comma-separated `partitionBy` for
    // layout-partitioned writes (e.g. training shards keyed by the bin
    // of q_pack_sequences — readers prune to the shards they train on)
    "parquet" -> { (spark, cp) => (ins, rp) =>
      val params = cp ++ rp
      val path = req(params, "path", "sink/parquet")
      val writer = ins.head.write.mode("overwrite")
      params.get("partitionBy")
        .map(cols => writer.partitionBy(cols.split(",").toIndexedSeq: _*))
        .getOrElse(writer)
        .parquet(path)
      spark.read.parquet(path)
    },
    // small-file compaction as a sink stage (graft.sink.Compaction):
    // land the input at `path`, then rewrite it into ~targetBytes files
    // at `compactTo` with the shuffle-free coalesce — the maintenance
    // pass a per-trigger streaming sink's output needs before it is
    // served; returns the compacted dataset
    "compact" -> { (spark, cp) => (ins, rp) =>
      val params = cp ++ rp
      val path = req(params, "path", "sink/compact")
      val out = req(params, "compactTo", "sink/compact")
      require(path != out, s"compact sink: path and compactTo must " +
        s"differ (got '$path' for both) — the compaction rewrite is " +
        "write-then-publish, never in place")
      val target = p(params, "targetBytes", (128L * 1024 * 1024).toString).toLong
      ins.head.write.mode("overwrite").parquet(path)
      graft.sink.Compaction.compactParquet(spark, path, out, target)
      spark.read.parquet(out)
    },
    // the COMPOSED streaming admission ladder as a registry stage
    // (round 15 — the standalone tiers' knobs were already function
    // params; this exposes the production composition the same way so
    // a Workflow user can tune every tier threshold per deployment):
    // attach StreamDedup.ladderAdmit to the parquet landing dir at
    // `path`, drain everything available, and return the admitted
    // (doc_id, batch) set via readAdmitted (live dirs ∪ compacted
    // base). State/checkpoint persist under `stateRoot`, so successive
    // pipeline runs RESUME admission across earlier batches — the
    // incremental-curation shape. Knobs: verifyT (LSH verify Jaccard),
    // maxDf/minShared (winnow), tauNum/tauDen (containment rational),
    // strategy (containment auto|raw|prefix), maxFilesPerTrigger.
    "ladder_admit" -> { (spark, cp) => (_, rp) =>
      val params = cp ++ rp
      val path = req(params, "path", "sink/ladder_admit")
      val root = req(params, "stateRoot", "sink/ladder_admit")
      val ck = p(params, "checkpoint", s"$root/_checkpoint")
      val stream = spark.readStream
        .schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", p(params, "maxFilesPerTrigger", "1"))
        .parquet(path)
      val q = graft.streaming.StreamDedup.ladderAdmit(stream, root, ck,
        verifyT = p(params, "verifyT",
          graft.queries.Dedup.MINHASH_VERIFY_T.toString).toDouble,
        maxDf = p(params, "maxDf", "50").toLong,
        minShared = p(params, "minShared", "2").toLong,
        tauNum = p(params, "tauNum", "4").toInt,
        tauDen = p(params, "tauDen", "5").toInt,
        strategy = p(params, "strategy", "auto"))
      try q.processAllAvailable() finally q.stop()
      graft.streaming.StreamDedup.readAdmitted(spark, root)
    },
    // maintenance folds for the streaming tier (round 13), as pipeline
    // stages — run in a maintenance window (stream stopped, checkpoint
    // committed: each fold's own contract). compact_stream_state folds
    // the per-trigger dedup-admission state dirs (every kind of
    // StreamDedup.StateKind.all, admitted output included) into sized
    // base files (StreamDedup.compactState) and returns a status
    // frame of what is at rest; compact_index_blocks folds streamed
    // index blocks back into the partition-pruned base layout
    // (Blocks.compactStreamBlocks) and returns the re-read assignment.
    "compact_stream_state" -> { (spark, cp) => (_, rp) =>
      val params = cp ++ rp
      val root = req(params, "stateRoot", "sink/compact_stream_state")
      val target =
        p(params, "targetBytes", (128L * 1024 * 1024).toString).toLong
      graft.streaming.StreamDedup.compactState(spark, root, target)
      import spark.implicits._
      val conf = spark.sparkContext.hadoopConfiguration
      // every kind the fold touches, admission output included — a
      // containment/ladder maintenance window must report the posting
      // and hash state it just rewrote (round-13 advice)
      graft.streaming.StreamDedup.StateKind.all.map(_.name).flatMap { kind =>
        val base = new org.apache.hadoop.fs.Path(s"$root/${kind}_base")
        val fs = base.getFileSystem(conf)
        if (!fs.exists(base)) None
        else {
          // recursive: the posting base nests its files under b= bucket
          // partition dirs
          val it = fs.listFiles(base, true)
          var files = 0L
          while (it.hasNext) {
            if (it.next().getPath.getName.endsWith(".parquet")) files += 1
          }
          Some((kind, spark.read.parquet(base.toString).count(), files))
        }
      }.toDF("kind", "rows", "files")
    },
    "compact_index_blocks" -> { (spark, cp) => (_, rp) =>
      val params = cp ++ rp
      val path = req(params, "path", "sink/compact_index_blocks")
      val partCols = p(params, "partitionBy", "tree,leaf")
        .split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq
      graft.index.Blocks.compactStreamBlocks(spark, path, partCols)
      spark.read.parquet(s"$path/assign")
    },
    // refit_compact_index (round 17 — the quantizer-drift actuator):
    // refit the IVF coarse quantizer on base ∪ streamed blocks,
    // re-encode, and atomically swap (IvfIndex.refitCompact — subsumes
    // compact_index_blocks for IVF layouts). Same maintenance-window
    // contract as the plain compaction: stream stopped, checkpoint
    // committed. Returns the re-read (re-encoded) assignment.
    "refit_compact_index" -> { (spark, cp) => (_, rp) =>
      val params = cp ++ rp
      val path = req(params, "path", "sink/refit_compact_index")
      graft.index.IvfIndex.refitCompact(spark, path,
        p(params, "idCol", "vec_id"), p(params, "vecCol", "embedding"),
        fitSample = p(params, "fitSample", "100000").toInt,
        balance = p(params, "balance", "false").toBoolean)
      spark.read.parquet(s"$path/assign")
    },
  ) ++
  // index-tier sinks — the reference's make_operator("sink", "local")
  // → GANN insert/index/search lifecycle (factory.py:29-64 routes to
  // tasks/sinks/local/__init__.py:8, whose real engine is
  // tasks/sinks/local/gann.py:196-259): build the index over the input
  // (idCol, vecCol), persist its partition-pruned layout at `path`
  // (see IndexKinds), and hand back the landed distributed
  // state — the posting/codes table actually on disk — so downstream
  // stages observe what was indexed. Search composes back in through
  // the ann_search transform over the same `path`.
  IndexKinds.kinds.map { case (kind, idx) =>
    kind -> ({ (spark, cp) => (ins, rp) =>
      val params = cp ++ rp
      val path = req(params, "path", s"sink/$kind")
      val landed = idx.build(ins.head, p(params, "idCol", "id"),
        p(params, "vecCol", "embedding"), params).save(path)
      spark.read.parquet(s"$path/$landed")
    }: Make)
  }

  val families: Map[String, Map[String, Make]] = Map(
    "source" -> sources,
    "transform" -> transforms,
    "vectorizer" -> vectorizers,
    "sink" -> sinks)

  /** `make_operator(family, name, **params)` parity. */
  def make(spark: SparkSession, family: String, name: String,
      params: Params = Map.empty): Workflow.StageFn = {
    val fam = families.getOrElse(family,
      throw new IllegalArgumentException(
        s"unknown operator family '$family' (have: ${families.keys.toSeq.sorted.mkString(", ")})"))
    val mk = fam.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown $family operator '$name' (have: ${fam.keys.toSeq.sorted.mkString(", ")})"))
    mk(spark, params)
  }
}
