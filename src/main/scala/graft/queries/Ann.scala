package graft.queries

import graft.core.Tables
import graft.index.IndexKinds
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour query entries. Approximate by design →
  * no SQL oracle (the driver records rows-only; recall against the exact
  * path is asserted in graft.index.AnnRecallSpec, never hash equality —
  * SURVEY.md §7.4). Each entry probes a 100-query batch (k=10 per query)
  * so the benched time measures the batched search path — probe fan-out,
  * posting/leaf joins, heap top-k — rather than per-query setup.
  */
object Ann {

  // Index models are memoized per (application, kind, dataset): an index is a
  // build-once / search-many sink (the reference's GANN.index() →
  // search() lifecycle, radient/tasks/sinks/local/gann.py:196-259), so
  // repeated query invocations measure the steady-state search, not a
  // rebuild — and the build's cached assignment table is created once
  // instead of leaking one copy per call.
  private val models =
    new java.util.concurrent.ConcurrentHashMap[String, IndexKinds.Handle]()

  /** PQ and IVF-PQ entries: 16 subspaces of 16 codes. */
  private val PqParams = Map("m" -> "16", "ksub" -> "16")

  /** An entry searching the `kind` index ([[IndexKinds]], built once per
    * (application, kind, dataset) — [[graft.core.Caches.clear]] drops
    * the memo entry along with the model's cached frame) with the
    * 100-query batch at k = 10: `nprobe` probed clusters on the IVF
    * kinds, an exact rerank of a `shortlist`-deep candidate list when
    * nonzero, and the allowed set label < 3 when `filtered`. */
  private def annQ(name: String, kind: String,
      params: IndexKinds.Params = Map.empty, nprobe: Int = 0,
      shortlist: Int = 0, filtered: Boolean = false): Q = Q(
    name,
    (s, dir) => {
      val e = Tables.spread(Tables(s, dir, "embeddings"))
      val model = graft.core.Caches.memoized(s, s"$kind#$dir", models)(
        IndexKinds.kinds(kind).build(e, "vec_id", "embedding", params))
      val queries = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val allowed =
        if (filtered) Some(e.filter(col("label") < 3).select(col("vec_id")))
        else None
      (if (shortlist == 0) model.search(queries, "qid", "qv", 10, nprobe, allowed)
       else model.searchRerank(queries, "qid", "qv", 10, nprobe, shortlist,
         e, "embedding", allowed))
        .select(col("qid"), col("vec_id"), round(col("dist"), 6).as("dist"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    },
    None)

  // nprobe=6 of 8 (round 12 recall-headroom ratchet): the measured
  // nprobe curve (SCALE.md; graft.RecallCurve) is 0.67/0.78/0.85/0.93
  // at nprobe 3/4/5/6 — r11 served at 5 (first rung over 0.8); the
  // sixth posting list buys 0.85 → 0.93 recall@10 for ~20% more
  // probed codes, well inside the 1.5x entry-time budget
  val q_ann_ivf = annQ("q_ann_ivf", "ivf", Map("k" -> "8"), nprobe = 6)

  /** Filtered ANN — the reference's Milvus `filter=` search kwarg
    * (radient/tasks/sinks/milvus.py:122) composed with the IVF index:
    * candidates restrict to an allowed-id set (label < 3 here, ~30% of
    * the corpus) BEFORE the distance fold, so the k returned are the
    * true top-k of the ALLOWED set within probed clusters — pre-filter
    * semantics, never a post-filtered (and arbitrarily short)
    * unfiltered top-k. The allowed set semi-joins the posting lists by
    * id (id-only shuffle; distance work prunes with the filter's
    * selectivity); the index model is SHARED with [[q_ann_ivf]] via the
    * memo — filtering is a search-time verb, never a rebuild. rows-only
    * + recall-gated against the exact FILTERED brute force
    * (RecallReport). */
  val q_ann_ivf_filtered = annQ("q_ann_ivf_filtered", "ivf", Map("k" -> "8"),
    nprobe = 6, filtered = true)

  // leafSize 200 = the reference's MAX_LEAF_SIZE build termination
  // (radient/tasks/sinks/local/gann.py:15); nTrees = the n_trees
  // recall knob (gann.py:201) — search probes every tree and
  // dedupes candidates across trees before the exact re-rank.
  // Measured recall@10 at sf0.1: 2 trees 0.754, 3 trees 0.891,
  // 4 trees 0.943 (round-14 ratchet; 1.1 s warm in-entry). Tree
  // DIVERSITY is the lever — beam=2 on 3 trees measured only
  // 0.896 at ~2x probe cost, so the 4th tree wins. Trees build
  // concurrently: the 4th costs scheduling overlap, not wall-clock
  val q_ann_gann = annQ("q_ann_gann", "gann", Map("nTrees" -> "4"))

  /** PQ/ADC search over the 32x-compressed codes table — the memory-
    * compression tier for 100 TB-scale embedding search (codebooks
    * broadcast, 8-byte codes instead of 256-byte vectors; recall vs the
    * exact path pinned in PqRecallSpec). */
  val q_ann_pq = annQ("q_ann_pq", "pq", PqParams, shortlist = 200)

  /** IVF-PQ (the canonical 100 TB layout: coarse clusters + PQ-coded
    * residuals): probe 7 of 8 clusters, ADC over the probed posting
    * lists, exact rerank of the shortlist. Recall/monotonicity/roundtrip
    * pinned in IvfPqSpec. nprobe=7 + shortlist=200 (round 12 ratchet):
    * ADC ranking error compounds the cluster-miss loss — measured
    * 0.70/0.76/0.82/0.85 at nprobe 4/5/6/7 with shortlist 100 (SCALE.md;
    * graft.RecallCurve); the deeper exact-reranked shortlist recovers
    * the ADC misrankings probe widening alone cannot. */
  val q_ann_ivfpq = annQ("q_ann_ivfpq", "ivfpq", PqParams, nprobe = 7,
    shortlist = 200)

  /** BQ (1-bit binary quantization, 64x compression): Hamming shortlist
    * over the packed sign-bit codes, exact rerank — the cheapest member
    * of the compression tier (recall/monotonicity/roundtrip/insert
    * pinned in BqSpec). shortlist = 80×k (round 13 ratchet, 400 → 800):
    * a dim-d Hamming distance takes at most d+1 distinct values, so the
    * shortlist boundary sits inside a heavy tie band and needs deep
    * oversampling before the exact rerank — the measured curve
    * (SCALE.md; graft.RecallCurve) puts recall@10 at
    * 0.42/0.60/0.77/0.90/0.98 for shortlist 50/100/200/400/800 at
    * sf0.1, and the Hamming pass reads the same 100% of codes at any
    * shortlist: only the k-bounded broadcast rerank deepens, so the
    * 0.90 → 0.98 rung is nearly free (entry re-timed flat). */
  val q_ann_bq = annQ("q_ann_bq", "bq", shortlist = 800)

  /** IVF-BQ (cluster-pruned 1-bit residual codes): probe 7 of 8
    * clusters, Hamming over the probed posting lists in the one-pass
    * scan, exact rerank — the binary sibling of IVF-PQ
    * (recall/monotonicity/roundtrip/insert pinned in IvfBqSpec).
    * nprobe=7 + shortlist=800 (round 13 ratchet — the tier the r12
    * verdict left behind at 0.856): the measured sweep (SCALE.md;
    * graft.RecallCurve) shows nprobe=4 CEILINGS at 0.78 recall@10 no
    * matter the shortlist (cluster-miss bound), and at any nprobe the
    * 1-bit tie band dominates until the shortlist is ~80×k — 0.856 /
    * 0.916 at nprobe=6 sl=400/800, 0.952 at nprobe=7 sl=800 vs the
    * flat-BQ 0.980 at sl=800. The deep shortlist is the same
    * rerank-widening knob that lifted ivf/pq in round 12, and 1-bit
    * codes are cheap enough that probing 7/8 posting lists still
    * touches 64× less data than the raw vectors. */
  val q_ann_ivfbq = annQ("q_ann_ivfbq", "ivfbq", nprobe = 7, shortlist = 800)

  /** Filtered ANN on the COMPRESSED tier (round 14 — the reference's
    * `filter=` kwarg, radient/tasks/sinks/milvus.py:122, now on every
    * index family, not just IVF/GANN): the allowed-id set (label < 3,
    * ~30% of the corpus) semi-joins the code table BEFORE the Hamming
    * fold ([[graft.index.Search.allowedOnly]]), so the shortlist — and
    * therefore the exact rerank — sees only allowed candidates:
    * pre-filter semantics at 64× compression. Index model SHARED with
    * [[q_ann_ivfbq]] via the memo (filtering is a search-time verb,
    * never a rebuild); same nprobe/shortlist knobs. rows-only +
    * recall-gated vs the exact FILTERED brute force (RecallReport);
    * full-probe equivalence pinned in AnnRecallSpec. */
  val q_ann_ivfbq_filtered = annQ("q_ann_ivfbq_filtered", "ivfbq", nprobe = 7,
    shortlist = 800, filtered = true)

  /** Filtered flat-BQ search (round 15 — the last un-gated filtered
    * tiers get recall floors like their unfiltered twins): allowed set
    * (label < 3, ~30%) semi-joins the packed code table BEFORE the
    * Hamming fold, so shortlist and rerank see only allowed candidates.
    * Model shared with [[q_ann_bq]] via the memo; same shortlist knob.
    * rows-only + recall-gated vs the exact FILTERED brute force. */
  val q_ann_bq_filtered = annQ("q_ann_bq_filtered", "bq", shortlist = 800,
    filtered = true)

  /** Filtered flat-PQ search — [[q_ann_bq_filtered]]'s ADC sibling:
    * the allowed semi-join precedes the ADC fold, same m/ksub/shortlist
    * as [[q_ann_pq]], model shared via the memo. rows-only +
    * recall-gated vs the exact FILTERED brute force. */
  val q_ann_pq_filtered = annQ("q_ann_pq_filtered", "pq", PqParams,
    shortlist = 200, filtered = true)

  /** Filtered SQ8 search — the near-exact rung under the filter verb:
    * allowed semi-join before the asymmetric SQ8 distance, same
    * shortlist as [[q_ann_sq]], model shared via the memo. rows-only +
    * recall-gated vs the exact FILTERED brute force. */
  val q_ann_sq_filtered = annQ("q_ann_sq_filtered", "sq", shortlist = 30,
    filtered = true)

  /** SQ8 (8-bit scalar quantization, 4x compression): asymmetric-distance
    * shortlist over the byte codes (the one-pass scan's SQ8 kernel),
    * exact rerank — the near-exact rung of the compression tier
    * (recall/monotonicity/roundtrip/insert pinned in SqSpec). */
  val q_ann_sq = annQ("q_ann_sq", "sq", shortlist = 30)

  /** IVF-SQ (cluster-pruned SQ8 residual codes — the Milvus IVF_SQ8 /
    * FAISS IVFx,SQ8 production config): probe 5 of 8 clusters,
    * asymmetric SQ8 distance over the probed posting lists, exact rerank
    * (recall/monotonicity/roundtrip/insert pinned in IvfSqSpec).
    * nprobe=6 (round 12 ratchet): SQ8 ranks are near-exact (flat SQ
    * recall 1.0), so the curve tracks plain IVF — 0.78/0.85/0.93 at
    * nprobe 4/5/6 (SCALE.md; graft.RecallCurve); the sixth posting list
    * buys 0.85 → 0.93 for ~20% more probed codes. */
  val q_ann_ivfsq = annQ("q_ann_ivfsq", "ivfsq", nprobe = 6, shortlist = 50)

  /** MLlib BucketedRandomProjectionLSH approxSimilarityJoin — the stock
    * scaled ANN-join operator (SURVEY.md §7.1 item 9). Approximate →
    * rows-only; recall vs the exact pairwise join is pinned in
    * LshJoinSpec. */
  val q_ann_lsh_join = Q(
    "q_ann_lsh_join",
    (s, dir) => {
      val e = Tables.spread(Tables(s, dir, "embeddings"))
      // the self-join form hashes the table once and runs the candidate
      // join + distance verify in codegen — pair-set-identical to the
      // two-sided approxSimilarityJoin (LshJoinSpec pins the equality)
      graft.index.LshJoin.l2SelfJoin(
          e.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", threshold = 1.2, numTables = 5,
          memoKey = Some(s"ann_lsh_join#$dir"))
        .select(col("vec_id_a").as("ida"), col("vec_id_b").as("idb"),
          round(col("dist"), 6).as("dist"))
        .orderBy(col("ida"), col("idb"))
    },
    None)

  val all: Seq[Q] = Seq(q_ann_ivf, q_ann_ivf_filtered, q_ann_gann,
    q_ann_pq, q_ann_pq_filtered, q_ann_ivfpq,
    q_ann_bq, q_ann_bq_filtered, q_ann_ivfbq, q_ann_ivfbq_filtered,
    q_ann_sq, q_ann_sq_filtered, q_ann_ivfsq,
    q_ann_lsh_join)
}
