package graft.queries

import graft.core.Tables
import graft.functions.TextF
import org.apache.spark.sql.functions._

/** Corpus-curation operators over `documents` — the selection half of a
  * training-data pipeline (the analysis half lives in TextAnalysis):
  * subword-ish token counting, the composite keep/drop quality filter,
  * and deterministic stratified sampling for corpus balancing.
  */
object Corpus {
  import TextF._

  /** ASCII-only run classes so the Java (Spark) and RE2 (DuckDB) regex
    * engines agree byte-for-byte: letter runs, digit runs, and
    * non-alnum-non-space runs over lowercased text. */
  private val BPEISH = "[a-z]+|[0-9]+|[^a-z0-9\\s]+"

  /** BPE-ish token counting (SURVEY's "whitespace + a BPE-ish regex"
    * pair — q_token_count is the whitespace half): pieces are maximal
    * letter / digit / symbol runs, the split a byte-pair pre-tokenizer
    * applies before merges. Reported next to the whitespace count, whose
    * ratio approximates tokens-per-word inflation. The pattern is
    * ASCII-class-only, so both engines' regex dialects match
    * identically. */
  val q_token_bpe = Q(
    "q_token_bpe",
    (s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("lo", lower(col("text")))
        .select(col("doc_id"),
          size(regexp_extract_all(col("lo"), lit(BPEISH), lit(0)))
            .cast("long").as("n_pieces"),
          size(regexp_extract_all(col("lo"), lit("[a-z]+"), lit(0)))
            .cast("long").as("n_alpha_runs"),
          size(regexp_extract_all(col("lo"), lit("[0-9]+"), lit(0)))
            .cast("long").as("n_digit_runs"),
          size(tokens(col("text"))).cast("long").as("n_ws_tokens"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |SELECT doc_id,
      |  len(regexp_extract_all(lo, '[a-z]+|[0-9]+|[^a-z0-9\\s]+')) AS n_pieces,
      |  len(regexp_extract_all(lo, '[a-z]+')) AS n_alpha_runs,
      |  len(regexp_extract_all(lo, '[0-9]+')) AS n_digit_runs,
      |  len(${Sql.toks()}) AS n_ws_tokens
      |FROM (SELECT doc_id, lower(text) AS lo, text FROM documents)
      |ORDER BY doc_id
      |""".stripMargin))

  /** Composite keep/drop corpus filter — the verdict a curation pipeline
    * materializes from the individual quality signals: token-count
    * window, minimum stopword ratio, maximum within-doc repetition.
    * Every threshold is compared in the INTEGER domain (sw·20 ≥ nt is
    * "stopword ratio ≥ 0.05") so no float boundary can disagree between
    * engines, and the reasons are emitted as flags for filter-rate
    * debugging. Scale: narrow per-row projection. */
  val q_corpus_filter = Q(
    "q_corpus_filter",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("t", tokens(col("text")))
        .withColumn("g", shingles(col("t"), 3))
        .select(col("doc_id"),
          size(col("t")).as("nt"),
          hitCount(col("t"), TextAnalysis.stopwords).as("sw"),
          size(col("g")).as("n3"),
          size(array_distinct(col("g"))).as("nd"))
      d.select(col("doc_id"),
          col("nt").cast("long").as("n_tokens"),
          (col("nt") >= 5 && col("nt") <= 1000).cast("long").as("len_ok"),
          (col("sw") * 20 >= col("nt")).cast("long").as("stopword_ok"),
          ((col("n3") - col("nd")) * 5 <= col("n3")).cast("long").as("repetition_ok"))
        .withColumn("keep",
          (col("len_ok") === 1 && col("stopword_ok") === 1 &&
            col("repetition_ok") === 1).cast("long"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |SELECT doc_id,
      |  nt AS n_tokens,
      |  CAST(nt >= 5 AND nt <= 1000 AS BIGINT) AS len_ok,
      |  CAST(sw * 20 >= nt AS BIGINT) AS stopword_ok,
      |  CAST((n3 - nd) * 5 <= n3 AS BIGINT) AS repetition_ok,
      |  CAST(nt >= 5 AND nt <= 1000 AND sw * 20 >= nt
      |       AND (n3 - nd) * 5 <= n3 AS BIGINT) AS keep
      |FROM (
      |  SELECT doc_id, len(t) AS nt,
      |    len(list_filter(t, x -> x IN ${TextAnalysis.stopwordsSql})) AS sw,
      |    len(g) AS n3, len(list_distinct(g)) AS nd
      |  FROM (SELECT doc_id, t, ${Sql.shingles3("t")} AS g
      |        FROM (SELECT doc_id, ${Sql.toks()} AS t FROM documents)))
      |ORDER BY doc_id
      |""".stripMargin))

  /** Deterministic stratified sampling for corpus balancing: per-language
    * keep quotas applied by hashed-id thresholding (keep iff
    * h32(lang#doc_id) mod 1000 < quota‰). Unlike rand()-based sampleBy
    * the decision is a pure function of (lang, doc_id) — re-runs,
    * retries and the oracle all select the SAME rows, and at 100 TB the
    * filter is a narrow scan predicate with no shuffle or RNG state. */
  val q_sample_stratified = Q(
    "q_sample_stratified",
    (s, dir) => {
      val quota = typedLit(Map("en" -> 500, "de" -> 200, "es" -> 200,
        "fr" -> 200, "zh" -> 200))
      Tables(s, dir, "documents")
        .withColumn("bucket",
          pmod(h32(concat(col("lang"), lit("#"), col("doc_id").cast("string"))),
            lit(1000)))
        .filter(col("bucket") < coalesce(element_at(quota, col("lang")), lit(100)))
        .select(col("doc_id"), col("lang"), col("bucket").cast("long").as("bucket"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |SELECT doc_id, lang, bucket
      |FROM (
      |  SELECT doc_id, lang,
      |    ${Sql.h32("lang || '#' || doc_id")} % 1000 AS bucket
      |  FROM documents)
      |WHERE bucket < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 200
      |  WHEN 'es' THEN 200 WHEN 'fr' THEN 200 WHEN 'zh' THEN 200
      |  ELSE 100 END
      |ORDER BY doc_id
      |""".stripMargin))

  /** Benchmark decontamination: corpus documents sharing ≥ 3 distinct
    * word-3-gram shingles with any document of a held-out probe set
    * (doc_id ≡ 0 mod 97 stands in for the benchmark suite) are flagged
    * with their overlap count — the contamination check a training
    * corpus runs against eval benchmarks before training. The join is an
    * inverted-index postings equi-join on the shingle (shared with the
    * dedup family via Dedup.shingleDf's cached shingle table): the probe
    * side is tiny (benchmark suites are), so it broadcasts, and no
    * corpus-vs-probe cross product ever materializes. Shingle sets are
    * distinct per doc, so the postings match count IS the intersection
    * size — exact, hence the SQL oracle. */
  val q_decontaminate = Q(
    "q_decontaminate",
    (s, dir) => {
      val sh = Dedup.shingleDf(s, dir)
      val posting = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      val probes = posting.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("probe_id"), col("s"))
      posting.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(probes), Seq("s"))
        .groupBy(col("doc_id"), col("probe_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy(col("doc_id"), col("probe_id"))
    },
    Some(s"""
      |WITH sh AS (
      |  SELECT doc_id, list_distinct(${Sql.shingles3("t")}) AS sh
      |  FROM (SELECT doc_id, ${Sql.toks()} AS t FROM documents))
      |SELECT c.doc_id AS doc_id, p.doc_id AS probe_id,
      |  CAST(len(list_filter(c.sh, x -> list_contains(p.sh, x))) AS BIGINT)
      |    AS n_shared
      |FROM sh c JOIN sh p ON p.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
      |WHERE len(list_filter(c.sh, x -> list_contains(p.sh, x))) >= 3
      |ORDER BY doc_id, probe_id
      |""".stripMargin))

  /** Decontamination with a broadcast Bloom prefilter — the 100 TB shape
    * of q_decontaminate: the probe set's shingles are sketched into a
    * driver-built Bloom filter (KBs for a benchmark suite), broadcast,
    * and applied as a scan-side predicate BEFORE any shuffle, so the
    * postings join only ever sees corpus shingles that might hit the
    * probe set (on a shuffled corpus the prefilter drops ~all postings
    * at the scan). Results are EXACTLY q_decontaminate's — the Bloom
    * admits no false negatives, and its false positives die in the same
    * exact equi-join — so the same oracle hash-checks this plan. */
  val q_decontaminate_bloom = Q(
    "q_decontaminate_bloom",
    (s, dir) => {
      val sh = Dedup.shingleDf(s, dir)
      val posting = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      val probes = posting.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("probe_id"), col("s"))
      val bf = probes.stat.bloomFilter("s", 1 << 16, 0.01)
      val bc = s.sparkContext.broadcast(bf)
      val mightContain = udf { (x: String) => bc.value.mightContain(x) }
      posting.filter(col("doc_id") % 97 =!= 0)
        .filter(mightContain(col("s")))
        .join(broadcast(probes), Seq("s"))
        .groupBy(col("doc_id"), col("probe_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy(col("doc_id"), col("probe_id"))
    },
    Some(s"""
      |WITH sh AS (
      |  SELECT doc_id, list_distinct(${Sql.shingles3("t")}) AS sh
      |  FROM (SELECT doc_id, ${Sql.toks()} AS t FROM documents))
      |SELECT c.doc_id AS doc_id, p.doc_id AS probe_id,
      |  CAST(len(list_filter(c.sh, x -> list_contains(p.sh, x))) AS BIGINT)
      |    AS n_shared
      |FROM sh c JOIN sh p ON p.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
      |WHERE len(list_filter(c.sh, x -> list_contains(p.sh, x))) >= 3
      |ORDER BY doc_id, probe_id
      |""".stripMargin))

  /** The full curation pipeline COMPOSED THROUGH THE ORCHESTRATION
    * SURFACE: a Workflow whose stages are all built by the string-keyed
    * operator registry (quality filter → exact-dup collapse → stratified
    * sample), executed as one lazy DataFrame — the end-to-end shape a
    * radient workflow port would run, inside the oracle gate rather than
    * only in specs. The oracle states the same three-stage composition
    * in SQL, so stage ORDER is checked too (filter before dedup before
    * sample — a different order selects different representatives). */
  val q_pipeline_curate = Q(
    "q_pipeline_curate",
    (s, dir) => {
      import graft.pipeline.{Operators, Workflow}
      val curated = new Workflow()
        .source("docs", Tables.spread(Tables(s, dir, "documents")))
        .addWithParams("quality",
          Operators.make(s, "transform", "quality_filter"))
        .addWithParams("dedup",
          Operators.make(s, "transform", "dedup_exact_keep"))
        .addWithParams("sample",
          Operators.make(s, "transform", "stratified_sample",
            Map("quotas" -> "en:500,de:200,es:200,fr:200,zh:200")))
        .execute()
      curated
        .select(col("doc_id"), col("lang"),
          col("bucket").cast("long").as("bucket"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH f AS (
      |  SELECT doc_id, lang, text FROM (
      |    SELECT doc_id, lang, text, len(t) AS nt,
      |      len(list_filter(t, x -> x IN ${TextAnalysis.stopwordsSql})) AS sw,
      |      len(g) AS n3, len(list_distinct(g)) AS nd
      |    FROM (SELECT doc_id, lang, text, t, ${Sql.shingles3("t")} AS g
      |          FROM (SELECT doc_id, lang, text, ${Sql.toks()} AS t
      |                FROM documents)))
      |  WHERE nt >= 5 AND nt <= 1000
      |    AND sw * 1000 >= nt * 50 AND (n3 - nd) * 1000 <= n3 * 200),
      |k AS (SELECT min(doc_id) AS doc_id FROM f
      |      GROUP BY md5(lower(trim(text)))),
      |d AS (SELECT f.doc_id, f.lang FROM f JOIN k USING (doc_id))
      |SELECT doc_id, lang, bucket FROM (
      |  SELECT doc_id, lang,
      |    ${Sql.h32("lang || '#' || doc_id")} % 1000 AS bucket
      |  FROM d)
      |WHERE bucket < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 200
      |  WHEN 'es' THEN 200 WHEN 'fr' THEN 200 WHEN 'zh' THEN 200
      |  ELSE 100 END
      |ORDER BY doc_id
      |""".stripMargin))

  /** Corpus-level bigram frequency top-k — the global n-gram statistics a
    * curation pipeline reports (and a contamination/memorization audit
    * reads): the 20 most document-frequent word bigrams with their
    * document and occurrence counts. Shape: per-doc distinct bigrams →
    * one (gram, df, total_tf) hash aggregate → top-k. Scale: the shuffle
    * carries (gram, count) pairs with map-side partial aggregation —
    * document payloads never move — and the top-k is a TakeOrdered over
    * the aggregate, tie-broken on the gram so the cut is total-ordered
    * and deterministic. All counts are integers → exact oracle. */
  val q_ngram_topk = Q(
    "q_ngram_topk",
    (s, dir) => {
      // cached (tracked): the shingled projection feeds two aggregates
      val g = graft.core.Caches.cached(
        Tables.spread(Tables(s, dir, "documents"))
          .withColumn("t", tokens(col("text")))
          .select(col("doc_id"), shingles(col("t"), 2).as("g")))
      // two gram-keyed aggregates instead of one (doc_id, gram)-keyed
      // pre-aggregate: the gram vocabulary is tiny relative to the
      // occurrence stream (Zipf), so keying the hash aggregate by gram
      // alone lets the map side combine ~all occurrences locally —
      // nothing but (gram, count) pairs ever shuffles, where the
      // (doc_id, gram) key space was nearly occurrence-sized. df gets
      // its own explode over the per-doc distinct grams (also
      // map-side-combined); the two vocabulary-sized results
      // broadcast-join on gram.
      val tf = g.select(explode(col("g")).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("total_tf"))
      val df = g.select(explode(array_distinct(col("g"))).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      df.join(tf, Seq("gram"))
        .select(col("gram"), col("df"), col("total_tf"))
        .orderBy(desc("df"), desc("total_tf"), col("gram"))
        .limit(20)
    },
    Some(s"""
      |SELECT gram, count(DISTINCT doc_id) AS df, count(*) AS total_tf
      |FROM (SELECT doc_id, unnest(${Sql.shingles2("t")}) AS gram
      |      FROM (SELECT doc_id, ${Sql.toks()} AS t FROM documents))
      |GROUP BY gram
      |ORDER BY df DESC, total_tf DESC, gram
      |LIMIT 20
      |""".stripMargin))

  /** Rare-token scoring — the CCNet-style "unusual vocabulary" quality
    * signal in the exact integer domain: each document's distinct tokens
    * are joined against the corpus document-frequency table and summarized
    * as (n_distinct, n_rare with df ≤ 2, min_df, sum_df). Low min_df /
    * high n_rare flags OCR noise, codes and gibberish; sum_df/n_distinct
    * is the doc's average-commonness numerator. Integer counts only — no
    * log-probability float, so the oracle hash-matches exactly while
    * ranking the same way a unigram LM score would (monotone in df).
    * Scale: the df table is vocabulary-sized (≪ corpus, Zipf) and
    * broadcast back against the per-doc distinct tokens; both aggregates
    * are map-side-combined hash aggregates over (token) keys. */
  val q_rare_tokens = Q(
    "q_rare_tokens",
    (s, dir) => {
      // the memoized postings' (doc_id, tok) pairs ARE the per-doc
      // distinct tokens, and their per-tok count is this df — reuse the
      // cached fit instead of re-tokenizing (see Postings)
      val p = Postings(s, dir)
      val toksDf = p.tf.select(col("doc_id"), col("tok"))
      val dfreq = p.dfreq
      toksDf.join(broadcast(dfreq), Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_distinct"),
          sum((col("df") <= 2).cast("long")).as("n_rare"),
          min(col("df")).as("min_df"),
          sum(col("df")).as("sum_df"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH t AS (SELECT DISTINCT doc_id, unnest(${Sql.toks()}) AS tok
      |           FROM documents),
      |dfreq AS (SELECT tok, count(*) AS df FROM t GROUP BY tok)
      |SELECT doc_id, count(*) AS n_distinct,
      |  CAST(sum(CAST(df <= 2 AS BIGINT)) AS BIGINT) AS n_rare,
      |  min(df) AS min_df, CAST(sum(df) AS BIGINT) AS sum_df
      |FROM t JOIN dfreq USING (tok)
      |GROUP BY doc_id
      |ORDER BY doc_id
      |""".stripMargin))

  /** Zipf frequency-of-frequency histogram — the corpus vocabulary
    * diagnostic (hapax count, head weight) a curation run sanity-checks
    * before training: how many distinct terms occur exactly c times.
    * Two chained hash aggregates, both map-side-combined; the second
    * input is vocabulary-sized, the output is O(distinct counts) — tiny.
    * At 100 TB nothing but (token, count) then (count, count) pairs ever
    * shuffles. Integer-exact. */
  val q_zipf = Q(
    "q_zipf",
    (s, dir) => {
      // total occurrences per term = Σ per-doc tf — derived from the
      // memoized postings instead of a fresh tokenize pass
      Postings(s, dir).tf
        .groupBy(col("tok")).agg(sum(col("tf")).as("c"))
        .groupBy(col("c")).agg(count(lit(1)).as("n_terms"))
        .select(col("c").as("term_count"), col("n_terms"))
        .orderBy(col("term_count"))
    },
    Some(s"""
      |SELECT c AS term_count, count(*) AS n_terms
      |FROM (SELECT tok, count(*) AS c
      |      FROM (SELECT unnest(${Sql.toks()}) AS tok FROM documents)
      |      GROUP BY tok)
      |GROUP BY c
      |ORDER BY term_count
      |""".stripMargin))

  /** Distributed two-phase prefix offsets — the scale-safe form of
    * `sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id)`. The naive
    * window funnels each language's ENTIRE corpus through one task's
    * sort + running fold (corpus/5 through one core at any scale); this
    * helper block-shards on `doc_id DIV blockDocs` — monotone in doc_id,
    * so shard order IS doc order — and composes the exact global offset
    * from (a) a local cumsum inside each (lang, shard) group, bounded by
    * `blockDocs` rows regardless of corpus size, and (b) per-shard base
    * offsets: the tiny (langs × shards) totals table, cumsum'd per lang
    * and BROADCAST back. Integer sums → the two-phase composition is
    * bit-exact vs the single window, so the DuckDB oracle (which keeps
    * the simple window form) still hash-matches.
    *
    * Plan shape: ONE corpus shuffle, by (lang, shard). The base-offset
    * branch reuses that same Exchange (ReuseExchange dedupes it — the
    * groupBy's keys equal the partitioning keys so no second shuffle),
    * aggregates each group to one row, cumsums the shard-count-sized
    * result, and joins back as a BroadcastHashJoin. `blockDocs`
    * (conf `graft.pack.blockDocs`, default 128 so the multi-shard path
    * is exercised even at sf0.01) is the 100 TB knob: at 10¹² docs,
    * blockDocs = 2²² keeps groups ≈4 M narrow rows (spillable window
    * state) and the broadcast bases table ≈250 k rows per language.
    *
    * Reference anchor: scales the 1→N fan-out contract of
    * `video_demux/default.py:37-59` / `pymupdf.py:41-47` to the corpus-
    * wide packing step. Input must carry (doc_id, lang, n_tok ≥ 0);
    * output adds `off` = sum of n_tok over same-lang docs with smaller
    * doc_id. NULL-keyed rows (null doc_id or lang) are EXCLUDED — a
    * contract change vs the pre-round-10 window form, which emitted a
    * NULL-lang partition; null keys here are malformed input that
    * belongs in quarantine upstream, and the entry oracles state the
    * same filter so both engines agree on nullable input. */
  private[graft] def packOffsets(d: org.apache.spark.sql.DataFrame,
                                 blockDocs: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the explicit null-filters mirror the constraints the inner join
    // below would otherwise infer on its probe side only — keeping them
    // in the SHARED subtree makes both branches' exchanges canonically
    // identical, so AQE reuses one shuffle instead of re-scanning (and
    // re-tokenizing) the corpus for the base offsets
    val sharded = d.withColumn("_shard", expr(s"doc_id DIV $blockDocs"))
      .filter(col("lang").isNotNull && col("_shard").isNotNull)
    val localW = Window.partitionBy(col("lang"), col("_shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sharded.withColumn("_cum", sum(col("n_tok")).over(localW))
    // shard totals = the last local cumsum of each group (n_tok ≥ 0 ⇒
    // max = last); exclusive per-lang running sum over shard order gives
    // each shard its base. The window here runs over the shard-count-
    // sized aggregate, not the corpus.
    val bases = local.groupBy(col("lang"), col("_shard"))
      .agg(max(col("_cum")).as("_tok"))
      .withColumn("_base", coalesce(sum(col("_tok")).over(
        Window.partitionBy(col("lang")).orderBy(col("_shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("_shard"), col("_base"))
    local.join(broadcast(bases), Seq("lang", "_shard"))
      .withColumn("off", col("_base") + col("_cum") - col("n_tok"))
      .drop("_shard", "_cum", "_base")
  }

  /** The `graft.pack.blockDocs` knob (see [[packOffsets]]) — the ONE
    * definition of its name and default; the percentile filter's tie
    * shards read it here too, so both families always shard at the same
    * block size. */
  private[graft] def packBlockDocs(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.get("graft.pack.blockDocs", "128").toLong

  /** Concatenate-then-chunk span mapping — the OTHER packing regime
    * (GPT-style pretraining: concatenate the corpus in a stable order,
    * cut into fixed 512-token blocks, documents MAY straddle
    * boundaries): for every (doc, chunk) incidence, the doc's token
    * span inside that chunk. [[q_pack_sequences]] assigns each doc to
    * the bin of its start offset (the collator-splits-later form); this
    * entry materializes the full block map the data loader reads —
    * a doc fans out to ⌈span/512⌉ rows via an explode over its chunk
    * range. Offsets come from the two-phase [[packOffsets]] (one
    * (lang, shard) shuffle, bounded window groups, broadcast bases);
    * the explode adds rows proportional to boundary crossings, bounded
    * by n_tok/512 per doc. Integer-exact → hash-checked. */
  val q_pack_chunks = Q(
    "q_pack_chunks",
    (s, dir) => {
      packOffsets(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            size(tokens(col("text"))).cast("long").as("n_tok")),
        packBlockDocs(s))
        .filter(col("n_tok") > 0)
        .withColumn("chunk_id", explode(sequence(
          expr("off DIV 512"), expr("(off + n_tok - 1) DIV 512"))))
        .select(col("doc_id"), col("lang"), col("chunk_id"),
          (greatest(col("off"), col("chunk_id") * 512) - col("chunk_id") * 512)
            .as("start_in_chunk"),
          (least(col("off") + col("n_tok"), (col("chunk_id") + 1) * 512)
            - col("chunk_id") * 512).as("end_in_chunk"))
        .orderBy(col("lang"), col("chunk_id"), col("doc_id"))
    },
    Some(s"""
      |WITH d AS (SELECT doc_id, lang, CAST(len(${Sql.toks()}) AS BIGINT) AS n_tok
      |           FROM documents
      |           WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
      |o AS (SELECT doc_id, lang, n_tok,
      |        CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
      |          AS BIGINT) AS off
      |      FROM d),
      |x AS (SELECT doc_id, lang, n_tok, off,
      |        unnest(generate_series(off // 512, (off + n_tok - 1) // 512)) AS chunk_id
      |      FROM o WHERE n_tok > 0)
      |SELECT doc_id, lang, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(greatest(off, chunk_id * 512) - chunk_id * 512 AS BIGINT) AS start_in_chunk,
      |  CAST(least(off + n_tok, (chunk_id + 1) * 512) - chunk_id * 512 AS BIGINT) AS end_in_chunk
      |FROM x ORDER BY lang, chunk_id, doc_id
      |""".stripMargin))

  /** Sequence packing — the last step before training: concatenate
    * documents (in a stable order) into fixed-token-budget bins of 512,
    * each doc assigned to the bin its start offset falls in (docs may
    * straddle a boundary; the trainer's collator splits them). Packing
    * is per-language; the running offset is the two-phase distributed
    * prefix sum of [[packOffsets]] — no task ever holds more than
    * `blockDocs` rows of window state, so the plan survives a language
    * whose corpus is 20 TB. Bins stay deterministic because the order
    * inside a shard is by doc_id, never by arrival. Integer-exact
    * → hash-checked. */
  val q_pack_sequences = Q(
    "q_pack_sequences",
    (s, dir) => {
      packOffsets(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            size(tokens(col("text"))).cast("long").as("n_tok")),
        packBlockDocs(s))
        .withColumn("bin", floor(col("off") / 512).cast("long"))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("off"), col("bin"))
        .orderBy(col("lang"), col("doc_id"))
    },
    Some(s"""
      |SELECT doc_id, lang, n_tok,
      |  CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS off,
      |  CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 512) AS BIGINT) AS bin
      |FROM (SELECT doc_id, lang, CAST(len(${Sql.toks()}) AS BIGINT) AS n_tok
      |      FROM documents
      |      WHERE doc_id IS NOT NULL AND lang IS NOT NULL)
      |ORDER BY lang, doc_id
      |""".stripMargin))

  /** The DuckDB twin of one BPE training round, chained `numMerges`
    * times (HASH-CHECKED since round 10 — fixed iteration count means
    * NO recursion is needed, just generated CTE stages, the
    * q_fastrp_embed pattern applied to an argmax loop): per stage,
    * adjacent-pair counts over the exploded symbol lists (lead() per
    * word — every positional occurrence counts, like the engine's
    * per-position pairs), the arg-max pair by (count DESC, a, b) —
    * byte-identical to the engine's ``-joined ordering because
    * NUL sorts below every UTF-8 byte — and Sennrich's GREEDY
    * leftmost-first merge as pure window algebra: match flags via
    * lead(), maximal runs of consecutive matches via the
    * gaps-and-islands row_number trick (runs longer than 1 only occur
    * for a=b symbols), select even offsets within each run (≡ the
    * engine's `i += 2` scan), then drop right-halves of selected pairs
    * and rebuild the list with `list(... ORDER BY i)`. `string_split`
    * splits per codepoint like Scala's per-char map (the corpus is
    * BMP-only; astral symbols would split differently — documented
    * limit). */
  /** The WITH-clause body replaying BPE training in DuckDB: vocabulary,
    * char-split s0, and per-round stages e/p/b/f/r/g/h/s — `b$k` holds
    * round k's winning pair, `s$k` every vocab word's symbol list AFTER
    * k merges (so `s$numMerges` IS the trained tokenizer applied to the
    * vocabulary — [[q_bpe_encode]] consumes it directly).
    *
    * `v` and every `e$k`, `b$k` and `s$k` are referenced more than once
    * downstream, so they are declared `AS MATERIALIZED`: DuckDB inlines a
    * plain CTE at each reference, and through the chain that re-derives
    * every earlier round per use (at sf0.001 on a 4-vCPU host,
    * q_bpe_merges' SQL ran 260 s inlined and 0.2 s materialized, with
    * the same rows). */
  private def bpeStagesSql(numMerges: Int): String = {
    val stages = (1 to numMerges).map { k =>
      val prev = if (k == 1) "s0" else s"s${k - 1}"
      s"""e$k AS MATERIALIZED (SELECT w, n, unnest(syms) AS s, generate_subscripts(syms, 1) AS i FROM $prev),
         |p$k AS (SELECT a, b, sum(n) AS cnt FROM (
         |    SELECT w, n, s AS a, lead(s) OVER (PARTITION BY w ORDER BY i) AS b FROM e$k)
         |  WHERE b IS NOT NULL GROUP BY a, b),
         |b$k AS MATERIALIZED (SELECT a, b FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         |f$k AS (SELECT e.w, e.n, e.i, e.s,
         |    coalesce(e.s = b$k.a AND lead(e.s) OVER (PARTITION BY e.w ORDER BY e.i) = b$k.b, false) AS m
         |  FROM e$k e CROSS JOIN b$k),
         |r$k AS (SELECT *, CASE WHEN m THEN i - row_number() OVER (PARTITION BY w, m ORDER BY i) END AS rid FROM f$k),
         |g$k AS (SELECT *, m AND (i - min(i) OVER (PARTITION BY w, rid)) % 2 = 0 AS sel FROM r$k),
         |h$k AS (SELECT w, n, i, s, sel,
         |    coalesce(lag(sel) OVER (PARTITION BY w ORDER BY i), false) AS psel,
         |    lead(s) OVER (PARTITION BY w ORDER BY i) AS ns
         |  FROM g$k),
         |s$k AS MATERIALIZED (SELECT w, any_value(n) AS n,
         |    list(CASE WHEN sel THEN s || ns ELSE s END ORDER BY i) AS syms
         |  FROM h$k WHERE NOT psel GROUP BY w)""".stripMargin
    }
    s"""v AS MATERIALIZED (SELECT w, count(*) AS n FROM (SELECT unnest(${Sql.toks()}) AS w FROM documents) GROUP BY w),
       |s0 AS (SELECT w, n, string_split(w, '') AS syms FROM v),
       |${stages.mkString(",\n")}""".stripMargin
  }

  private def bpeOracleSql(numMerges: Int): String = {
    val finalSel = (1 to numMerges)
      .map(k => s"SELECT CAST($k AS BIGINT) AS rank, a AS left_sym, b AS right_sym FROM b$k")
      .mkString("\n UNION ALL ")
    s"""
       |WITH
       |${bpeStagesSql(numMerges)}
       |SELECT * FROM (
       |$finalSel
       |) ORDER BY rank
       |""".stripMargin
  }

  /** BPE merge training over the corpus (graft.vectorize.BpeTrain):
    * 10 learned merges with their rank. HASH-CHECKED since round 10:
    * the fixed-depth argmax loop is replayed in DuckDB as generated
    * chained CTE stages ([[bpeOracleSql]]) — integer pair counts and a
    * byte-identical tie-break make every round engine-exact, so the
    * iterative entry leaves the rows-only list (the
    * distributed-equals-sequential equivalence stays pinned in
    * BpeTrainSpec). Scale: the corpus collapses to the weighted word
    * vocabulary in one shuffle; each round aggregates only that cached
    * vocabulary-sized table. */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.DataFrame, Seq[(String, String)])]()

  /** The cached word vocabulary + 10 learned merges, memoized per
    * app+dataset — q_bpe_merges and q_bpe_encode share one training
    * run (and the vocab cache) instead of re-learning per entry. */
  private def bpeTrained(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, Seq[(String, String)]) =
    graft.core.Caches.memoized(s, dir, bpeMemo) {
      val v = graft.vectorize.BpeTrain.vocab(Tables(s, dir, "documents"), "text")
      (v, graft.vectorize.BpeTrain.learn(v, numMerges = 10))
    }

  val q_bpe_merges = Q(
    "q_bpe_merges",
    (s, dir) => {
      import s.implicits._
      bpeTrained(s, dir)._2.zipWithIndex
        .map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("rank", "left_sym", "right_sym")
        .orderBy(col("rank"))
    },
    Some(bpeOracleSql(10)))

  /** BPE tokenizer APPLICATION — the step every trained tokenizer
    * exists for: encode the corpus with the 10 learned merges and emit
    * each document's piece count next to its whitespace word count (the
    * fertility/compression profile a tokenizer owner reads before
    * committing to a vocab). Scale shape: per-word piece counts are
    * computed ONCE on the cached vocabulary (vocabulary-sized, Zipf ≪
    * corpus — the same table training aggregated), then the corpus
    * explodes to (doc, word) and equi-joins that narrow table; one
    * per-doc integer-sum shuffle, no per-corpus-row merge loops, and
    * document payloads never shuffle. Oracle: the generated training
    * CTEs already carry every vocab word's symbol list after round k —
    * `s10` IS the applied tokenizer, so encoding is a join against it.
    * Exact integer counts on both engines. */
  val q_bpe_encode = Q(
    "q_bpe_encode",
    (s, dir) => {
      val (vocabDf, merges) = bpeTrained(s, dir)
      val bc = s.sparkContext.broadcast(merges)
      val pieceLen = udf { (w: String) =>
        graft.vectorize.BpeTrain.applyMerges(w, bc.value).length.toLong }
      val wp = vocabDf.select(col("w"), pieceLen(col("w")).as("k"))
      Tables.spread(Tables(s, dir, "documents"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .join(wp, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_pieces"), count(lit(1)).as("n_words"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH
      |${bpeStagesSql(10)},
      |d AS (SELECT doc_id, unnest(${Sql.toks()}) AS w FROM documents),
      |enc AS (SELECT d.doc_id, len(s10.syms) AS k FROM d JOIN s10 USING (w))
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_pieces,
      |  count(*) AS n_words
      |FROM enc GROUP BY doc_id ORDER BY doc_id
      |""".stripMargin))

  /** Temperature-scaled language mixture weights (the multilingual
    * rebalancing step of large-scale pretraining corpora — upweight tail
    * languages by sampling q_l ∝ p_l^α with α = 0.5, the mBERT/XLM-R
    * exponent): per language the natural share p, the resampled share q,
    * and the target document count q·N the sampler would draw.
    *
    * Scale shape: one map-side-combined count per language (the only
    * full-corpus pass), then all arithmetic happens on the
    * languages-sized table with two 1-row broadcast totals — at 100 TB
    * this is a scan plus a handful of driver-sized rows. Doubles are
    * computed identically on both engines from exact integer counts;
    * rounded to 6. */
  val q_mixture_weights = Q(
    "q_mixture_weights",
    (s, dir) => {
      val byLang = Tables(s, dir, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val tot = broadcast(byLang.agg(sum(col("n")).as("ntot")))
      val w = byLang.crossJoin(tot)
        .withColumn("p", col("n") / col("ntot"))
        .withColumn("w", pow(col("p"), lit(0.5)))
      val z = broadcast(w.agg(sum(col("w")).as("z")))
      w.crossJoin(z)
        .select(col("lang"), col("n"),
          round(col("p"), 6).as("p"),
          round(col("w") / col("z"), 6).as("q"),
          round(col("w") / col("z") * col("ntot")).cast("long").as("target_docs"))
        .orderBy(col("lang"))
    },
    Some("""
      |WITH l AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM l),
      |w AS (SELECT lang, n, n::DOUBLE / ntot AS p,
      |             pow(n::DOUBLE / ntot, 0.5) AS w
      |      FROM l, t),
      |z AS (SELECT sum(w) AS z FROM w)
      |SELECT lang, n, round(p, 6) AS p, round(w / z, 6) AS q,
      |  CAST(round(w / z * (SELECT ntot FROM t)) AS BIGINT) AS target_docs
      |FROM w, z ORDER BY lang
      |""".stripMargin))

  /** The bigram-LM scoring kernel of [[q_lm_cross_entropy]] (and the
    * `lm_score` registry transform): input = (idCol, t token-array),
    * output = (idCol, n_bigrams, cross_entropy). The LM is fit on the
    * input corpus itself. */
  private[graft] def lmCrossEntropy(
      bound: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val bg = bound.select(id, explode(shingles(col("t"), 2)).as("bg"))
    val dbg = bg.groupBy(id, col("bg")).agg(count(lit(1)).as("cnt"))
    val c12 = bg.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val uni = bound.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val v = broadcast(uni.agg(count(lit(1)).as("v")))
    // the ln term is rounded to 6 dp and then lifted to INTEGER micros
    // (round6 lands within 1 ulp of k/1e6; ·1e6 + half-up round recovers
    // k exactly on both engines, never near a .5 boundary) — so the
    // per-doc fold is an exact integer sum: order-independent (no
    // sorted-struct collect), codegen-friendly (HashAggregate over
    // longs, where the sorted double fold needed an ObjectHashAggregate
    // building and sorting a struct array per document), and still
    // engine-exact (the only doubles are the one ln and the final two
    // divisions, identical operation order on both sides)
    val scored = dbg.join(c12, Seq("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(uni.select(col("w").as("w1"), col("c1")), Seq("w1"))
      .crossJoin(v)
      .select(id, col("cnt"),
        round(round(log((col("c12") + 1).cast("double") / (col("c1") + col("v"))), 6)
          * lit(1e6)).cast("long").as("lnp_mu"))
    scored.groupBy(id)
      .agg(sum(col("cnt") * col("lnp_mu")).as("nll_mu"),
        sum(col("cnt")).as("n"))
      .select(id, col("n").as("n_bigrams"),
        round((-col("nll_mu")).cast("double") / lit(1e6) / col("n"), 6)
          .as("cross_entropy"))
  }

  /** CCNet-style LM quality scoring: a bigram language model with add-1
    * smoothing fit on the corpus itself, each document scored by its
    * per-bigram cross-entropy H(d) = −Σ cnt·ln p(w2|w1) / n — the
    * perplexity-filtering signal every large-scale curation pipeline
    * ranks documents by (low H = fluent/in-distribution, high H =
    * noise). p(w2|w1) = (c(w1w2)+1) / (c(w1)+V) over the corpus bigram
    * and unigram tables; docs with no bigrams (< 2 tokens) drop out.
    *
    * Exactness: all counts are integers; the ONE transcendental per
    * (doc, bigram) pair — ln p — is rounded to 6dp (the q_pmi_bigrams
    * precedent: ln agrees across engines to well under 1e-6) and then
    * lifted to exact BIGINT micros, so the per-doc fold is an INTEGER
    * sum — order-independent on any partitioning, no sorted collect —
    * and the only remaining doubles are the final two divisions,
    * performed in the same order on both engines. H rounds to 6dp at
    * the end.
    *
    * Scale shape: two (key,count) hash aggregates fit the LM (map-side
    * combined, Zipf-small outputs); scoring joins each doc's DISTINCT
    * bigrams (vocabulary-bounded per doc) against the bigram/unigram
    * tables on equi-keys and folds per doc — document payloads move
    * once, into the per-doc distinct-bigram aggregate. */
  val q_lm_cross_entropy = Q(
    "q_lm_cross_entropy",
    (s, dir) => {
      val bound = graft.core.Caches.cached(
        Tables.spread(Tables(s, dir, "documents"))
          .select(col("doc_id"), tokens(col("text")).as("t")))
      lmCrossEntropy(bound, "doc_id").orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH d AS (SELECT doc_id, ${Sql.toks()} AS t FROM documents),
      |bg AS (SELECT doc_id, unnest(${Sql.shingles2("t")}) AS bg FROM d),
      |dbg AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg),
      |c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg),
      |uni AS (SELECT w, count(*) AS c1
      |        FROM (SELECT unnest(t) AS w FROM d) GROUP BY w),
      |v AS (SELECT count(*) AS v FROM uni),
      |${Sql.lmFold}
      |SELECT doc_id, n AS n_bigrams, ${Sql.lmEntropy} AS cross_entropy
      |FROM folded ORDER BY doc_id
      |""".stripMargin))

  /** The curation pipeline v2 — [[q_pipeline_curate]] with the LM
    * quality stage in the chain: quality filter → bigram-LM perplexity
    * filter (fit on the FILTER SURVIVORS, τ = 3.42 ≈ the 75th
    * percentile) → exact-dup collapse → stratified sample, every stage
    * built by the string-keyed registry and run as one lazy DataFrame.
    * The oracle states the same four-stage composition in SQL — stage
    * order AND the LM's fit population are both checked (fitting on the
    * raw corpus instead of the filter survivors shifts every count and
    * fails the hash). */
  val q_pipeline_curate2 = Q(
    "q_pipeline_curate2",
    (s, dir) => {
      import graft.pipeline.{Operators, Workflow}
      val curated = new Workflow()
        .source("docs", Tables.spread(Tables(s, dir, "documents")))
        .addWithParams("quality",
          Operators.make(s, "transform", "quality_filter"))
        .addWithParams("lm",
          Operators.make(s, "transform", "lm_score",
            Map("mode" -> "filter", "maxEntropy" -> "3.42")))
        .addWithParams("dedup",
          Operators.make(s, "transform", "dedup_exact_keep"))
        .addWithParams("sample",
          Operators.make(s, "transform", "stratified_sample",
            Map("quotas" -> "en:500,de:200,es:200,fr:200,zh:200")))
        .execute()
      curated
        .select(col("doc_id"), col("lang"),
          col("bucket").cast("long").as("bucket"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH f0 AS (
      |  SELECT doc_id, lang, text, t FROM (
      |    SELECT doc_id, lang, text, t, len(t) AS nt,
      |      len(list_filter(t, x -> x IN ${TextAnalysis.stopwordsSql})) AS sw,
      |      len(g) AS n3, len(list_distinct(g)) AS nd
      |    FROM (SELECT doc_id, lang, text, t, ${Sql.shingles3("t")} AS g
      |          FROM (SELECT doc_id, lang, text, ${Sql.toks()} AS t
      |                FROM documents)))
      |  WHERE nt >= 5 AND nt <= 1000
      |    AND sw * 1000 >= nt * 50 AND (n3 - nd) * 1000 <= n3 * 200),
      |bg AS (SELECT doc_id, unnest(${Sql.shingles2("t")}) AS bg FROM f0),
      |dbg AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg),
      |c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg),
      |uni AS (SELECT w, count(*) AS c1
      |        FROM (SELECT unnest(t) AS w FROM f0) GROUP BY w),
      |v AS (SELECT count(*) AS v FROM uni),
      |${Sql.lmFold},
      |keep AS (SELECT doc_id FROM folded WHERE ${Sql.lmEntropy} <= 3.42),
      |f AS (SELECT f0.doc_id, f0.lang, f0.text FROM f0 JOIN keep USING (doc_id)),
      |k AS (SELECT min(doc_id) AS doc_id FROM f
      |      GROUP BY md5(lower(trim(text)))),
      |d AS (SELECT f.doc_id, f.lang FROM f JOIN k USING (doc_id))
      |SELECT doc_id, lang, bucket FROM (
      |  SELECT doc_id, lang,
      |    ${Sql.h32("lang || '#' || doc_id")} % 1000 AS bucket
      |  FROM d)
      |WHERE bucket < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 200
      |  WHEN 'es' THEN 200 WHEN 'fr' THEN 200 WHEN 'zh' THEN 200
      |  ELSE 100 END
      |ORDER BY doc_id
      |""".stripMargin))

  /** The curation pipeline v3 — the ROUND-9 verbs composed under the
    * oracle: per-language percentile prune (drop each language's bottom
    * stopword-density quintile) → bigram-LM perplexity filter FIT ON THE
    * PRUNE SURVIVORS (τ = 3.42) → deterministic stratified sample, every
    * stage built by the string-keyed registry and run as one lazy
    * DataFrame. The oracle restates the same three-stage composition in
    * SQL — stage order matters twice over: the percentile ranks are
    * computed on the full corpus but the LM's fit population is the
    * prune survivors, so reordering (or fitting on the raw corpus)
    * shifts every rank/count and fails the hash. */
  val q_pipeline_curate3 = Q(
    "q_pipeline_curate3",
    (s, dir) => {
      import graft.pipeline.{Operators, Workflow}
      val curated = new Workflow()
        .source("docs", Tables.spread(Tables(s, dir, "documents")))
        .addWithParams("prune",
          Operators.make(s, "transform", "percentile_prune"))
        .addWithParams("lm",
          Operators.make(s, "transform", "lm_score",
            Map("mode" -> "filter", "maxEntropy" -> "3.42")))
        .addWithParams("sample",
          Operators.make(s, "transform", "stratified_sample",
            Map("quotas" -> "en:600,de:300,es:300,fr:300,zh:300")))
        .execute()
      curated
        .select(col("doc_id"), col("lang"),
          col("bucket").cast("long").as("bucket"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH d AS (SELECT doc_id, lang, text, ${Sql.toks()} AS t FROM documents),
      |sc AS (
      |  SELECT doc_id, lang, text, t,
      |    CAST(len(list_filter(t, x -> x IN ${TextAnalysis.stopwordsSql}))
      |      AS DOUBLE) / greatest(len(t), 1) AS score
      |  FROM d),
      |rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM sc),
      |f0 AS (SELECT doc_id, lang, text, t FROM rk WHERE rn * 100 > n * 20),
      |bg AS (SELECT doc_id, unnest(${Sql.shingles2("t")}) AS bg FROM f0),
      |dbg AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg),
      |c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg),
      |uni AS (SELECT w, count(*) AS c1
      |        FROM (SELECT unnest(t) AS w FROM f0) GROUP BY w),
      |v AS (SELECT count(*) AS v FROM uni),
      |${Sql.lmFold},
      |keep AS (SELECT doc_id FROM folded WHERE ${Sql.lmEntropy} <= 3.42),
      |f AS (SELECT f0.doc_id, f0.lang FROM f0 JOIN keep USING (doc_id))
      |SELECT doc_id, lang, bucket FROM (
      |  SELECT doc_id, lang,
      |    ${Sql.h32("lang || '#' || doc_id")} % 1000 AS bucket
      |  FROM f)
      |WHERE bucket < CASE lang WHEN 'en' THEN 600 WHEN 'de' THEN 300
      |  WHEN 'es' THEN 300 WHEN 'fr' THEN 300 WHEN 'zh' THEN 300
      |  ELSE 100 END
      |ORDER BY doc_id
      |""".stripMargin))

  /** ASCII-conservative so the Java and RE2 engines match byte-for-byte
    * (the q_token_bpe discipline). */
  private[graft] val EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val IP_RE = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** PII scrubbing — the redaction stage every training-data pipeline
    * runs before anything else sees the text: emails and IPv4 literals
    * are counted and replaced with redaction tags. The corpus is
    * synthetic and clean, so the entry PLANTS deterministic PII
    * in-query (an email on doc_id ≡ 0 mod 10, an IP on ≡ 5 — arithmetic
    * only, both engines construct the identical strings) and the oracle
    * verifies the actual redaction: per-doc match counts plus the md5 of
    * the scrubbed text, hash-exact. Regexes are ASCII-conservative so
    * Java (Spark) and RE2 (DuckDB) agree byte-for-byte; DuckDB's
    * regexp_replace needs the explicit 'g' flag to match Spark's
    * replace-all default. Scale: narrow per-row projection, no shuffle
    * except the presentation sort. */
  val q_scrub_pii = Q(
    "q_scrub_pii",
    (s, dir) => {
      val planted = Tables(s, dir, "documents")
        .withColumn("txt", concat(col("text"),
          when(col("doc_id") % 10 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now")))
            .when(col("doc_id") % 10 === 5,
              concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
                lit(".0."), (col("doc_id") % 100).cast("string"), lit(" seen")))
            .otherwise(lit(""))))
      planted
        .withColumn("n_emails",
          size(regexp_extract_all(col("txt"), lit(EMAIL_RE), lit(0))).cast("long"))
        .withColumn("n_ips",
          size(regexp_extract_all(col("txt"), lit(IP_RE), lit(0))).cast("long"))
        .withColumn("scrubbed",
          regexp_replace(regexp_replace(col("txt"), EMAIL_RE, "<EMAIL>"),
            IP_RE, "<IP>"))
        .select(col("doc_id"), col("n_emails"), col("n_ips"),
          md5(col("scrubbed")).as("scrubbed_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH planted AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 10 = 0
      |           THEN ' contact user' || doc_id || '@example.com now'
      |         WHEN doc_id % 10 = 5
      |           THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) || ' seen'
      |         ELSE '' END AS txt
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(txt, '$EMAIL_RE')) AS n_emails,
      |  len(regexp_extract_all(txt, '$IP_RE')) AS n_ips,
      |  md5(regexp_replace(regexp_replace(txt, '$EMAIL_RE', '<EMAIL>', 'g'),
      |      '$IP_RE', '<IP>', 'g')) AS scrubbed_md5
      |FROM planted ORDER BY doc_id
      |""".stripMargin))

  /** DSIR-style importance resampling weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how much more likely its hashed-feature bag is
    * under a TARGET distribution than under the raw-corpus
    * distribution — log w(d) = Σ_b cnt_d(b) · ln(p_target(b)/p_raw(b))
    * over B=1024 md5-hashed unigram buckets, both distributions add-1
    * smoothed. The target here is the corpus's `lang = 'zh'` slice (the
    * method is target-agnostic: swap in any exemplar set); a pipeline
    * then samples ∝ exp(log w) or keeps the top slice — the
    * domain-matching selection step between raw crawl and training mix.
    *
    * Exactness (the q_lm_cross_entropy pattern): all counts are
    * integers; the ONE transcendental per bucket — the ln ratio — is
    * rounded to 6dp before the per-doc fold, and the fold is a
    * bucket-sorted sequential aggregate of cnt·lnr products, so both
    * engines fold identical doubles in identical order.
    *
    * Scale: the bucket tables are ≤B rows (broadcast); the corpus moves
    * once into the per-doc (doc, bucket, cnt) aggregate, which is
    * ≤B-bounded per document; totals are 1-row broadcast crossJoins. */
  /** The DSIR kernel of [[q_dsir_weights]] (and the `dsir_weight`
    * registry transform): input = (idCol, t token-array, _tgt boolean),
    * output = (idCol, n_tokens, dsir_logw). Both distributions are fit
    * on the input itself (target = rows where _tgt). */
  private[graft] def dsirLogWeights(
      bound: org.apache.spark.sql.DataFrame, idCol: String,
      buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val tok = graft.core.Caches.cached(
      bound.select(id, col("_tgt"), explode(col("t")).as("w"))
        .select(id, col("_tgt"), pmod(h32s("dsir#", col("w")), lit(buckets)).as("b")))
    val dbk = tok.groupBy(id, col("b")).agg(count(lit(1)).as("cnt"))
    val raw = tok.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = tok.filter(col("_tgt"))
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val nr = broadcast(tok.agg(count(lit(1)).as("nr")))
    val nt = broadcast(tok.filter(col("_tgt")).agg(count(lit(1)).as("nt")))
    val ratio = raw.join(tgt, Seq("b"), "left")
      .select(col("b"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
      .crossJoin(nr).crossJoin(nt)
      // ln-ratio lifted to exact BIGINT micros (the lmCrossEntropy
      // discipline): the per-doc fold becomes an order-independent
      // integer sum — no sorted-struct collect, plain codegen
      // HashAggregate — and the single final division is performed in
      // the same order on both engines
      .select(col("b"), round(round(log(
          ((col("ct") + 1).cast("double") / (col("nt") + buckets)) /
          ((col("cr") + 1).cast("double") / (col("nr") + buckets))), 6)
          * lit(1e6)).cast("long")
        .as("lnr_mu"))
    dbk.join(ratio, Seq("b"))
      .groupBy(id)
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("lnr_mu")).as("w_mu"))
      .select(id, col("n_tokens"),
        round(col("w_mu").cast("double") / lit(1e6), 6).as("dsir_logw"))
  }

  val q_dsir_weights = Q(
    "q_dsir_weights",
    (s, dir) => {
      val bound = graft.core.Caches.cached(
        Tables.spread(Tables(s, dir, "documents"))
          .select(col("doc_id"), tokens(col("text")).as("t"),
            (col("lang") === "zh").as("_tgt")))
      dsirLogWeights(bound, "doc_id").orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH d AS (SELECT doc_id, lang, ${Sql.toks()} AS t FROM documents),
      |tok AS (
      |  SELECT doc_id, lang, ${Sql.h32("'dsir#' || w")} % 1024 AS b
      |  FROM (SELECT doc_id, lang, unnest(t) AS w FROM d)),
      |dbk AS (SELECT doc_id, b, count(*) AS cnt FROM tok GROUP BY doc_id, b),
      |raw AS (SELECT b, count(*) AS cr FROM tok GROUP BY b),
      |tgt AS (SELECT b, count(*) AS ct FROM tok WHERE lang = 'zh' GROUP BY b),
      |nr AS (SELECT count(*) AS nr FROM tok),
      |nt AS (SELECT count(*) AS nt FROM tok WHERE lang = 'zh'),
      |ratio AS (
      |  SELECT raw.b,
      |    CAST(round(round(ln(((coalesce(ct, 0) + 1)::DOUBLE / (nt + 1024)) /
      |             ((cr + 1)::DOUBLE / (nr + 1024))), 6) * 1000000, 0)
      |      AS BIGINT) AS lnr_mu
      |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN nr CROSS JOIN nt),
      |folded AS (
      |  SELECT doc_id, CAST(sum(cnt * lnr_mu) AS BIGINT) AS w_mu,
      |    CAST(sum(cnt) AS BIGINT) AS n
      |  FROM dbk JOIN ratio USING (b) GROUP BY doc_id)
      |SELECT doc_id, n AS n_tokens, round(w_mu::DOUBLE / 1000000.0, 6) AS dsir_logw
      |FROM folded ORDER BY doc_id
      |""".stripMargin))

  /** Exact-k per-stratum sampling — the eval-slice builder ("exactly 50
    * docs per language, reproducibly"): rank by a salted hash within
    * each stratum and keep the first k. Complements
    * [[q_sample_stratified]]'s per-mille quotas (which bound the RATE,
    * not the count): a benchmark slice needs the exact count, and the
    * salted-hash order makes the pick independent of ingestion order,
    * stable across retries, and uniformly random over the stratum for
    * any non-adversarial id set. Scale: one rank window per stratum —
    * bounded key groups, and k ≪ group so a WindowGroupLimit keeps
    * per-partition state at k rows before the exchange. Hash domain →
    * oracle-exact. */
  val q_sample_exact_k = Q(
    "q_sample_exact_k",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 50
      val h = h32(concat(lit("slice#"), col("doc_id").cast("string")))
      Tables(s, dir, "documents")
        .withColumn("h", h)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
        .filter(col("rk") <= k)
        .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
        .orderBy(col("lang"), col("rk"))
    },
    Some(s"""
      |SELECT doc_id, lang, rk FROM (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY ${Sql.h32("'slice#' || doc_id")}, doc_id) AS BIGINT) AS rk
      |  FROM documents)
      |WHERE rk <= 50
      |ORDER BY lang, rk
      |""".stripMargin))

  /** Token-budget data selection — keep the highest-scoring documents of
    * each language whose tokens fit a per-language budget (2/5 of that
    * language's tokens), with THRESHOLD semantics: the kept set is
    * {score_mu ≥ t_l} for the largest t_l whose whole score groups fit,
    * the selection rule fasttext/DSIR-style pipelines apply when told
    * "give me the best N tokens per language". Score here is the
    * required-stopword density of q_text_quality (a pure rational —
    * sw/max(nt,1) — so the micros lift is float-exact with no
    * transcendental), and the budget is exact integer math (tot·2 div 5).
    *
    * Scale shape: the corpus collapses to a (lang, score_mu) token
    * histogram in ONE map-side-combined shuffle; the running cumsum and
    * the threshold argmin run over that aggregate (≤10⁶+1 score values
    * per language, corpus-size-independent); thresholds broadcast back
    * into a lang-keyed filter join. No corpus-ordered window anywhere —
    * the same decomposition as the percentile filter, with a token-sum
    * cut instead of a rank cut.
    *
    * Edge (round-12 ADVICE): if a language's single HIGHEST score group
    * already exceeds the budget, no whole group fits — threshold
    * semantics taken literally would silently drop the whole language
    * ("keep the best 2/5 of tokens" returning nothing). The threshold
    * falls back to that top score group (coalesce over the argmin), so
    * a non-empty language always keeps its best group — the minimal
    * overshoot consistent with whole-group semantics. Both engines
    * compute the same coalesce, so the oracle pins the edge. */
  val q_budget_select = Q(
    "q_budget_select",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.spread(Tables(s, dir, "documents"))
      val scored = docs
        .withColumn("t", tokens(col("text")))
        .select(col("doc_id"), col("lang"),
          size(col("t")).cast("long").as("n_tok"),
          hitCount(col("t"), stopwords).as("sw"), size(col("t")).as("nt"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          round(round(col("sw").cast("double") / greatest(col("nt"), lit(1)), 6)
            * lit(1e6)).cast("long").as("score_mu"))
      val budget = scored.groupBy(col("lang"))
        .agg(expr("(sum(n_tok) * 2) div 5").as("budget"))
      val hist = scored.groupBy(col("lang"), col("score_mu"))
        .agg(sum(col("n_tok")).as("tok"))
      val cum = hist.withColumn("cum",
        sum(col("tok")).over(
          Window.partitionBy(col("lang")).orderBy(desc("score_mu"))))
      val thr = cum.join(budget, Seq("lang"))
        .groupBy(col("lang")).agg(
          coalesce(min(when(col("cum") <= col("budget"), col("score_mu"))),
            max(col("score_mu"))).as("t"))
      scored.join(broadcast(thr), Seq("lang"))
        .filter(col("score_mu") >= col("t"))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("score_mu"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH sc AS (
      |  SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tok,
      |    CAST(round(round(CAST(len(list_filter(t, x -> x IN
      |        (${TextF.stopwords.map(x => s"'$x'").mkString(", ")})))
      |      AS DOUBLE) / greatest(len(t), 1), 6) * 1000000, 0) AS BIGINT)
      |      AS score_mu
      |  FROM (SELECT doc_id, lang, ${Sql.toks()} AS t FROM documents)),
      |b AS (SELECT lang, (CAST(sum(n_tok) AS BIGINT) * 2) // 5 AS budget
      |      FROM sc GROUP BY lang),
      |h AS (SELECT lang, score_mu, CAST(sum(n_tok) AS BIGINT) AS tok
      |      FROM sc GROUP BY lang, score_mu),
      |c AS (SELECT lang, score_mu,
      |        sum(tok) OVER (PARTITION BY lang ORDER BY score_mu DESC) AS cum
      |      FROM h),
      |thr AS (SELECT lang,
      |          coalesce(min(CASE WHEN cum <= budget THEN score_mu END),
      |                   max(score_mu)) AS t
      |        FROM c JOIN b USING (lang) GROUP BY lang)
      |SELECT doc_id, lang, n_tok, score_mu
      |FROM sc JOIN thr USING (lang)
      |WHERE score_mu >= t
      |ORDER BY doc_id
      |""".stripMargin))

  /** Global token-budget selection under a language MIXTURE (round 12 —
    * the "give me the best N tokens at this mixture" query every data
    * team runs): one GLOBAL budget (2/5 of all corpus tokens) is split
    * across languages by temperature-scaled mixture weights
    * q_l ∝ (token share)^0.5 (the mBERT/XLM-R α=0.5 rebalancing of
    * [[q_mixture_weights]], here over TOKENS since the budget is in
    * tokens), then each language keeps its highest-scoring whole score
    * groups that fit its slice — [[q_budget_select]]'s threshold
    * semantics, including the top-group fallback when even the best
    * group overflows.
    *
    * Scale shape — the composition costs no extra corpus pass: the one
    * (lang, score_mu) token histogram serves BOTH the mixture weights
    * (per-language token totals are a second aggregate OF THE HISTOGRAM)
    * and the threshold cumsum; all mixture arithmetic runs on the
    * languages-sized table with two 1-row broadcast totals, and the
    * final keep is a broadcast threshold join. No corpus-ordered window.
    *
    * Numeric discipline: the only doubles are pow(share, 0.5) and the
    * w/z normalization (identical operation order both engines —
    * q_mixture_weights' proven pattern); q_l lifts to integer micros
    * immediately, and the per-language budget B·q_mu/10⁶ is decomposed
    * as (B div 10⁶)·q_mu + ((B mod 10⁶)·q_mu) div 10⁶ — exactly
    * floor(B·q_mu/10⁶) without ever forming B·q_mu, which at a 100 TB
    * corpus (~10¹³ tokens) would overflow a long. */
  val q_budget_mixture = Q(
    "q_budget_mixture",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.spread(Tables(s, dir, "documents"))
      val scored = docs
        .withColumn("t", tokens(col("text")))
        .select(col("doc_id"), col("lang"),
          size(col("t")).cast("long").as("n_tok"),
          hitCount(col("t"), stopwords).as("sw"), size(col("t")).as("nt"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          round(round(col("sw").cast("double") / greatest(col("nt"), lit(1)), 6)
            * lit(1e6)).cast("long").as("score_mu"))
      val hist = scored.groupBy(col("lang"), col("score_mu"))
        .agg(sum(col("n_tok")).as("tok"))
      val byLang = hist.groupBy(col("lang")).agg(sum(col("tok")).as("ntok"))
      val tot = broadcast(byLang.agg(sum(col("ntok")).as("tot")))
      val wts = byLang.crossJoin(tot)
        .withColumn("w", pow(col("ntok").cast("double") / col("tot"), lit(0.5)))
      val z = broadcast(wts.agg(sum(col("w")).as("z")))
      val budget = wts.crossJoin(z)
        .withColumn("q_mu", round(col("w") / col("z") * lit(1e6)).cast("long"))
        .withColumn("gb", expr("(tot * 2) div 5"))
        .select(col("lang"),
          (expr("gb div 1000000") * col("q_mu") +
            expr("((gb % 1000000) * q_mu) div 1000000")).as("budget"))
      val cum = hist.withColumn("cum",
        sum(col("tok")).over(
          Window.partitionBy(col("lang")).orderBy(desc("score_mu"))))
      val thr = cum.join(budget, Seq("lang"))
        .groupBy(col("lang")).agg(
          coalesce(min(when(col("cum") <= col("budget"), col("score_mu"))),
            max(col("score_mu"))).as("t"))
      scored.join(broadcast(thr), Seq("lang"))
        .filter(col("score_mu") >= col("t"))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("score_mu"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH sc AS (
      |  SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tok,
      |    CAST(round(round(CAST(len(list_filter(t, x -> x IN
      |        (${TextF.stopwords.map(x => s"'$x'").mkString(", ")})))
      |      AS DOUBLE) / greatest(len(t), 1), 6) * 1000000, 0) AS BIGINT)
      |      AS score_mu
      |  FROM (SELECT doc_id, lang, ${Sql.toks()} AS t FROM documents)),
      |h AS (SELECT lang, score_mu, CAST(sum(n_tok) AS BIGINT) AS tok
      |      FROM sc GROUP BY lang, score_mu),
      |l AS (SELECT lang, CAST(sum(tok) AS BIGINT) AS ntok FROM h GROUP BY lang),
      |t AS (SELECT CAST(sum(ntok) AS BIGINT) AS tot FROM l),
      |w AS (SELECT lang, pow(ntok::DOUBLE / tot, 0.5) AS w, tot FROM l, t),
      |z AS (SELECT sum(w) AS z FROM w),
      |b AS (SELECT lang,
      |        ((tot * 2) // 5 // 1000000)
      |          * CAST(round(w / z * 1000000, 0) AS BIGINT)
      |        + (((tot * 2) // 5 % 1000000)
      |          * CAST(round(w / z * 1000000, 0) AS BIGINT)) // 1000000
      |          AS budget
      |      FROM w, z),
      |c AS (SELECT lang, score_mu,
      |        sum(tok) OVER (PARTITION BY lang ORDER BY score_mu DESC) AS cum
      |      FROM h),
      |thr AS (SELECT lang,
      |          coalesce(min(CASE WHEN cum <= budget THEN score_mu END),
      |                   max(score_mu)) AS t
      |        FROM c JOIN b USING (lang) GROUP BY lang)
      |SELECT doc_id, lang, n_tok, score_mu
      |FROM sc JOIN thr USING (lang)
      |WHERE score_mu >= t
      |ORDER BY doc_id
      |""".stripMargin))

  /** Per-source document cap ("domain cap" — the C4/RefinedWeb rule that
    * no single site dominates the corpus): keep each source's top-3
    * documents by the same stopword-density quality score the budget
    * family uses (integer micros, float-exact), ties broken by doc_id.
    *
    * Scale shape — this is deliberately NOT a rank window: a corpus-wide
    * `row_number() OVER (PARTITION BY source ORDER BY score)` sorts every
    * document of every source, and a hot domain (the reason the cap
    * exists) makes that partition's sort the straggler. Instead the
    * bounded-heap [[graft.functions.TopKAgg]] partial-aggregates
    * map-side, so each input partition ships AT MOST k=3 (score, doc_id)
    * pairs per source into the shuffle — O(k · partitions) per source
    * regardless of how many million pages the hottest domain crawled.
    * The heap's lexicographic (dist, id) order with dist = −score_mu is
    * exactly the oracle's (score DESC, doc_id ASC) rank, so swapping the
    * window for the heap cannot change the answer; −score_mu round-trips
    * the double lane exactly (|score_mu| ≤ 10⁶ ≪ 2⁵³). */
  /** (doc_id, source, score_mu) projection shared by the batch and
    * streaming domain caps — pure column arithmetic, so it applies to
    * streaming frames unchanged. */
  private[graft] def sourceScored(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"), col("source"),
        hitCount(col("t"), stopwords).as("sw"), size(col("t")).as("nt"))
      .select(col("doc_id"), col("source"),
        round(round(col("sw").cast("double") / greatest(col("nt"), lit(1)), 6)
          * lit(1e6)).cast("long").as("score_mu"))

  /** Per-source bounded-heap top-3 of [[sourceScored]] output, unpacked
    * to (source, doc_id, score_mu) in presentation order — the shared
    * tail of the batch and streaming domain caps. */
  private[graft] def domainCapTop(
      scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    scored.groupBy(col("source"))
      .agg(graft.functions.TopKAgg.topK(
        -col("score_mu").cast("double"), col("doc_id"), 3).as("top"))

  private[graft] def domainCapUnpack(
      top: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    top.select(col("source"), explode(col("top")).as("e"))
      .select(col("source"), col("e.id").as("doc_id"),
        (-col("e.dist")).cast("long").as("score_mu"))
      .orderBy(col("source"), col("doc_id"))

  /** DuckDB oracle shared by the batch and streaming domain caps. */
  private[queries] val domainCapSql: String = s"""
      |WITH sc AS (
      |  SELECT doc_id, source,
      |    CAST(round(round(CAST(len(list_filter(t, x -> x IN
      |        (${TextF.stopwords.map(x => s"'$x'").mkString(", ")})))
      |      AS DOUBLE) / greatest(len(t), 1), 6) * 1000000, 0) AS BIGINT)
      |      AS score_mu
      |  FROM (SELECT doc_id, source, ${Sql.toks()} AS t FROM documents)),
      |r AS (SELECT source, doc_id, score_mu,
      |        row_number() OVER (PARTITION BY source
      |          ORDER BY score_mu DESC, doc_id) AS rn
      |      FROM sc)
      |SELECT source, doc_id, score_mu FROM r WHERE rn <= 3
      |ORDER BY source, doc_id
      |""".stripMargin

  val q_domain_cap = Q(
    "q_domain_cap",
    (s, dir) =>
      domainCapUnpack(domainCapTop(
        sourceScored(Tables.spread(Tables(s, dir, "documents"))))),
    Some(domainCapSql))

  /** Curation yield funnel — the per-stage survivor report every
    * pipeline run publishes ("crawl 60k docs → 41k pass quality → 39k
    * after dedup → 12k sampled"): document and whitespace-token counts
    * after each stage of the [[q_pipeline_curate]] chain (ingest →
    * quality filter → exact-dup keeper → stratified sample), as rows
    * (stage, n_docs, n_tok). The oracle states the same four stage sets
    * in SQL, so both the counts AND the stage containment order are
    * checked.
    *
    * Scale shape — document text never enters a shuffle: quality and
    * sample memberships are per-row flags computed in the scan
    * projection; the dedup keeper is the chain's own (content-hash →
    * min doc_id) aggregate, whose shuffle carries 40-byte rows, joined
    * back onto a TEXT-FREE (doc_id, lang, nt, q) projection; all four
    * stage totals then partial-aggregate in one global sum (8 longs per
    * partition reach the final stack). Running the report costs the
    * pipeline's own keeper aggregate plus two pruned column scans —
    * never a per-stage corpus pass. */
  val q_curation_funnel = Q(
    "q_curation_funnel",
    (s, dir) => {
      val base = Tables.spread(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("text"),
          size(tokens(col("text"))).cast("long").as("nt"))
        .withColumn("q", graft.functions.TextQualityStats
          .keeps(col("text"), 5, 1000, 50, 200))
      val keepers = base.filter(col("q"))
        .groupBy(md5(lower(trim(col("text")))).as("_h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("k"))
      val quota = when(col("lang") === "en", 500)
        .when(col("lang").isin("de", "es", "fr", "zh"), 200)
        .otherwise(100)
      val flagged = base.select("doc_id", "lang", "nt", "q")
        .join(keepers, Seq("doc_id"), "left_outer")
        .withColumn("k", coalesce(col("k"), lit(false)))
        .withColumn("smp", col("k") &&
          pmod(TextF.h32(concat(col("lang"), lit("#"),
            col("doc_id").cast("string"))), lit(1000)) < quota)
      flagged.agg(
          count(lit(1)).as("c0"), sum(col("nt")).as("t0"),
          sum(when(col("q"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("q"), col("nt")).otherwise(0L)).as("t1"),
          sum(when(col("k"), 1L).otherwise(0L)).as("c2"),
          sum(when(col("k"), col("nt")).otherwise(0L)).as("t2"),
          sum(when(col("smp"), 1L).otherwise(0L)).as("c3"),
          sum(when(col("smp"), col("nt")).otherwise(0L)).as("t3"))
        .selectExpr("stack(4, '0_ingest', c0, t0, '1_quality', c1, t1, " +
          "'2_dedup', c2, t2, '3_sample', c3, t3) AS (stage, n_docs, n_tok)")
        .orderBy(col("stage"))
    },
    Some(s"""
      |WITH b AS (
      |  SELECT doc_id, lang, text, CAST(len(t) AS BIGINT) AS nt,
      |    len(list_filter(t, x -> x IN ${TextAnalysis.stopwordsSql})) AS sw,
      |    len(g) AS n3, len(list_distinct(g)) AS nd
      |  FROM (SELECT doc_id, lang, text, t, ${Sql.shingles3("t")} AS g
      |        FROM (SELECT doc_id, lang, text, ${Sql.toks()} AS t
      |              FROM documents))),
      |f AS (SELECT doc_id, lang, text, nt FROM b
      |      WHERE nt >= 5 AND nt <= 1000
      |        AND sw * 1000 >= nt * 50 AND (n3 - nd) * 1000 <= n3 * 200),
      |k AS (SELECT min(doc_id) AS doc_id FROM f
      |      GROUP BY md5(lower(trim(text)))),
      |d AS (SELECT f.doc_id, f.lang, f.nt FROM f JOIN k USING (doc_id)),
      |smp AS (SELECT doc_id, nt FROM d
      |        WHERE ${Sql.h32("lang || '#' || doc_id")} % 1000 <
      |          CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 200
      |            WHEN 'es' THEN 200 WHEN 'fr' THEN 200 WHEN 'zh' THEN 200
      |            ELSE 100 END)
      |SELECT '0_ingest' AS stage, count(*) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS n_tok FROM b
      |UNION ALL SELECT '1_quality', count(*), CAST(sum(nt) AS BIGINT) FROM f
      |UNION ALL SELECT '2_dedup', count(*), CAST(sum(nt) AS BIGINT) FROM d
      |UNION ALL SELECT '3_sample', count(*), CAST(sum(nt) AS BIGINT) FROM smp
      |ORDER BY stage
      |""".stripMargin))

  val all: Seq[Q] = Seq(q_token_bpe, q_corpus_filter, q_sample_stratified,
    q_sample_exact_k,
    q_decontaminate, q_decontaminate_bloom, q_pipeline_curate,
    q_pipeline_curate2, q_pipeline_curate3, q_ngram_topk,
    q_rare_tokens, q_zipf, q_pack_sequences, q_pack_chunks, q_bpe_merges,
    q_bpe_encode,
    q_mixture_weights, q_budget_select, q_budget_mixture, q_domain_cap,
    q_curation_funnel,
    q_lm_cross_entropy, q_scrub_pii, q_dsir_weights)
}

