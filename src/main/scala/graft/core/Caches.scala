package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry of every DataFrame the engine pins with
  * `.cache()` outside a locally-unpersisted scope (dedup shingle/signature
  * tables, LSH hash tables, index posting and code tables, workflow
  * stage caches), plus eviction hooks for memoized index models.
  *
  * Why not just `spark.catalog.clearCache()`: that drops the storage but
  * leaves memoized index models ([[graft.index.GannIndex.Model]], and the
  * [[graft.index.Quantized]] core's models, IVF-flat's included)
  * pointing at now-uncached posting or code frames — the next search
  * silently recomputes the encode pass per probe instead of rebuilding
  * the index once. [[clear]] releases the storage AND runs the owners'
  * eviction hooks, so the next call rebuilds into a fresh cache.
  *
  * A one-shot job never needs this (executors die with the session — the
  * stance the query entries document); a long-lived session (notebook,
  * Thrift server) calls `Caches.clear(spark)` between corpora. Tracking
  * is per `applicationId`, so concurrent test sessions don't release each
  * other's frames.
  */
object Caches {
  private val frames =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.List[DataFrame]]()
  // entry-result-class caches (see cachedTransient) tracked separately so
  // a bench harness can release THEM between timed passes while keeping
  // the serving-structure caches (index models, postings) primed
  private val transientFrames =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.List[DataFrame]]()
  private val hooks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.List[Runnable]]()
  // per-application clear generation: lets memoized detect a clear that
  // raced a build (see below)
  private val clearGen =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def gen(appId: String): java.util.concurrent.atomic.AtomicLong =
    clearGen.computeIfAbsent(appId, _ => new java.util.concurrent.atomic.AtomicLong(0))

  private def key(s: SparkSession): String = s.sparkContext.applicationId

  private def add[A](m: java.util.concurrent.ConcurrentHashMap[String, java.util.List[A]],
      k: String, v: A): Unit =
    m.computeIfAbsent(k,
      _ => java.util.Collections.synchronizedList(new java.util.ArrayList[A]())).add(v)

  /** `.cache()` + track: the engine-internal replacement for a bare
    * `df.cache()` wherever the cached frame outlives the builder call.
    * (Spark's CacheManager dedups identical plans, so re-tracking the
    * same logical frame costs one list slot, not a second copy.)
    * Streaming frames pass through untouched — a stream cannot be
    * cached, and the guard is what lets the stateless registry
    * operators (quality_filter, pii_scrub, …) apply unchanged to a
    * `readStream` input: the cache is a batch-side reuse optimization,
    * never a correctness dependency. */
  def cached(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val c = df.cache()
    add(frames, key(df.sparkSession), c)
    c
  }

  /** `.cache()` + track as an ENTRY-RESULT-class cache: a query's own
    * intermediate (a workflow stage's survivor set, a filter stage's
    * output) that is cached purely for WITHIN-EXECUTION reuse — two or
    * more downstream consumers of one pipeline would otherwise re-derive
    * the whole upstream chain. Unlike the serving-structure caches
    * tracked by [[cached]] (index models, postings — structures a
    * production system legitimately keeps across queries), these must
    * NOT survive from one measured execution to the next: a bench that
    * primes them untimed and then times warm passes is measuring cache
    * hits, not the engine (the round-17 gaming flag). [[clearTransient]]
    * releases exactly this class; [[clear]] releases it too (it is a
    * superset clear). Streaming frames pass through like [[cached]]. */
  def cachedTransient(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val c = df.cache()
    add(transientFrames, key(df.sparkSession), c)
    c
  }

  /** Release ONLY the entry-result-class caches registered through
    * [[cachedTransient]] — the hook a bench harness calls between its
    * untimed priming pass and each timed pass, so per-query numbers
    * price each query's own intermediates at true per-execution cost
    * while index/posting model primes stay warm. No eviction hooks run:
    * transient frames are never referenced by memoized models. */
  def clearTransient(s: SparkSession): Unit = {
    Option(transientFrames.remove(key(s))).foreach { l =>
      l.forEach(df => { df.unpersist(blocking = false); () })
    }
  }

  /** Register an eviction hook run (once, then dropped) by [[clear]] —
    * memoized-model owners use this to drop map entries whose cached
    * frames are about to be released. */
  def onClear(s: SparkSession)(f: => Unit): Unit =
    add(hooks, key(s), new Runnable { def run(): Unit = f })

  /** Memoize a built-once model/frame per (application, key), registering
    * eviction with [[clear]] so a stale entry never outlives the cached
    * frames it points at — the shared skeleton of the ANN index model,
    * tf-idf postings, and LSH hashed-table memos. The caller owns the
    * map (one per model type keeps types simple and lets a family evict
    * independently).
    *
    * Clear/build race: the eviction hook is registered AFTER the mapping
    * is published (a hook registered inside the mapping function could be
    * consumed by a concurrent [[clear]] as a no-op `remove` before the
    * entry exists), and the clear generation is re-checked afterwards —
    * if a clear ran at any point during the build, the fresh entry's
    * cached frames were just unpersisted, so the entry is dropped and
    * the next call rebuilds into a fresh cache. */
  def memoized[M](s: SparkSession, key: String,
      memo: java.util.concurrent.ConcurrentHashMap[String, M])(build: => M): M = {
    val appId = s.sparkContext.applicationId
    val k = s"$appId#$key"
    val g0 = gen(appId).get()
    var built = false
    val m = memo.computeIfAbsent(k, _ => { built = true; build })
    if (built) {
      onClear(s) { memo.remove(k); () }
      if (gen(appId).get() != g0) memo.remove(k)
    }
    m
  }

  /** Free the storage behind an eagerly materialized frame: CacheManager
    * entries via `unpersist`, plus the block-manager storage a
    * `localCheckpoint` pinned. `Dataset.unpersist` alone cannot reach the
    * latter — the blocks belong to the internal checkpoint RDD wrapped in
    * the frame's LogicalRDD leaf, not to the cache manager — so an
    * iterative loop that only unpersists leaks one state-sized RDD per
    * round (at 10⁹ nodes, ~10× node-state pinned for the life of the
    * job). Reliable `checkpoint()` state is untouched entirely: its
    * files belong to the checkpoint-dir owner, and a reliable
    * checkpoint keeps nothing block-manager-resident for this helper to
    * free (`Dataset.checkpoint` does not persist its internal RDD), so
    * the `rdd.unpersist` below is a harmless no-op on that path — this
    * helper only frees localCheckpoint/cache storage.
    *
    * OWNERSHIP GUARD: checkpoint blocks are released only when the
    * frame's analyzed plan has exactly ONE LogicalRDD leaf — the
    * "this frame IS my materialization (possibly projected)" shape the
    * PageRank loop hands in. A multi-leaf plan (a compaction union, a
    * join) may embed CALLER-owned checkpoints in its lineage, and a
    * localCheckpoint has no recompute path — blanket traversal there
    * would destroy another owner's only copy (the round-10 review
    * finding). Multi-leaf owners that created specific checkpoints
    * release them by id instead (see graft.index.Compact's owned-id
    * registry). */
  def releaseMaterialized(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    val leaves = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr
    }
    if (leaves.size == 1) leaves.head.rdd.unpersist(blocking = false)
    ()
  }

  /** Release every tracked cache and run every eviction hook for this
    * session's application. Non-blocking unpersist: storage is freed
    * asynchronously, correctness is unaffected (cached plans recompute). */
  def clear(s: SparkSession): Unit = {
    val k = key(s)
    gen(k).incrementAndGet() // published first: builds in flight see it
    Option(frames.remove(k)).foreach { l =>
      l.forEach(df => { df.unpersist(blocking = false); () })
    }
    clearTransient(s)
    Option(hooks.remove(k)).foreach(_.forEach(_.run()))
  }
}
