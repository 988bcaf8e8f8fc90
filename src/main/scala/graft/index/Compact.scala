package graft.index

import org.apache.spark.sql.DataFrame

/** Append-with-compaction for every in-memory index insert path
  * ([[GannIndex.insert]], and the [[Quantized]] core's insert behind
  * [[IvfIndex.insert]] and [[Quantized.Family.insert]] for the six
  * compressed indexes).
  *
  * A continuous-ingest loop (the StreamingIngestSpec shape) appends a
  * batch per micro-batch; a naive `cached(old.union(new))` grows BOTH the
  * Catalyst plan (one Union layer per insert — analysis cost is
  * O(layers)) and the tracked cache set (every superseded frame stays
  * pinned) without bound. The reference's local index appends into one
  * flat matrix (radient/tasks/sinks/local/gann.py:216-220); this is the
  * distributed twin:
  *
  *  - every insert materializes the new frame FROM the superseded cache
  *    (one cheap in-memory pass), then unpersists the superseded cache —
  *    steady-state storage is one copy of the index, not one per insert;
  *  - every `compactEvery`-th insert truncates lineage via an eager
  *    `localCheckpoint`: the plan becomes a flat scan of materialized
  *    blocks, so plan depth is bounded by `compactEvery` regardless of
  *    how many batches ever arrived (blocks of the superseded checkpoint
  *    are released by the ContextCleaner once the old model is dropped).
  *
  * Search results are unaffected — union order is append order either
  * way; InsertCompactionSpec pins ≥50 sequential inserts to bounded plan
  * depth with search output identical to a fresh build over the same
  * rows.
  */
object Compact {

  /** Compact every N appends: plans stay ≤ N Union layers deep while
    * checkpoint passes stay ~1/N of inserts. */
  val DefaultEvery = 16

  /** RDD ids of checkpoints THIS object created (per JVM): the ownership
    * registry that lets compaction release its own superseded
    * checkpoint chain without destroying caller-owned checkpointed
    * batches embedded in the same union lineage. */
  private val ownedCheckpoints =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private def logicalRddLeaves(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.LogicalRDD] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr
    }

  /** `old` must be the model's current (cached or checkpointed) state;
    * `appends` the model's insert count so far. Returns the new state.
    *
    * SINGLE-CONSUMER CONTRACT on the returned state: ownership is
    * tracked per RDD id with no consumer count, so a Compact-produced
    * checkpointed state may feed exactly ONE ongoing append chain. If
    * the same returned state is forked as `old` into two index models,
    * the first model's next compaction releases the shared checkpoint
    * blocks the sibling still depends on — and a localCheckpoint has no
    * recompute path, so the sibling's next materialization fails with
    * missing blocks. To fork a state, call [[disown]] on it first: the
    * checkpoint becomes caller-owned (never auto-released; the caller
    * frees it via Caches.releaseMaterialized when every fork is done).
    *
    * Durability (auto-detected): lineage truncation goes through the
    * RELIABLE `checkpoint()` whenever the session has a checkpoint dir
    * configured (`sparkContext.setCheckpointDir` to durable storage) —
    * the cluster deployment shape, surviving executor loss — and falls
    * back to `localCheckpoint` otherwise, whose blocks live on executors
    * and are NOT fault-tolerant (fine for a single-JVM session or any
    * index that can be rebuilt/reloaded). So the ingest loop's
    * durability is a one-line session decision, not an API change at
    * every insert site; pass `reliable = Some(...)` to override the
    * detection either way. ReliableCompactionSpec drives the ingest loop
    * across a truncation boundary in both modes. The durable-by-layout
    * alternative is the persisted block append (`appendToSaved` on each
    * index + [[Blocks]]), which keeps index state in parquet and is also
    * O(batch) per insert. */
  def append(old: DataFrame, extra: DataFrame, appends: Int,
      compactEvery: Int = DefaultEvery,
      reliable: Option[Boolean] = None): DataFrame = {
    val unioned = old.union(extra)
    if ((appends + 1) % compactEvery == 0) {
      val useReliable = reliable.getOrElse(
        old.sparkSession.sparkContext.getCheckpointDir.isDefined)
      // lineage truncation: eager, so the pass below reads old's cache
      // before it is dropped
      val next =
        if (useReliable) unioned.checkpoint(eager = true)
        else unioned.localCheckpoint(eager = true)
      // record the new checkpoint's RDD as COMPACT-OWNED, then release
      // old's cache plus any Compact-owned checkpoint nested in its
      // union lineage (the one created at the previous compaction —
      // bare unpersist cannot reach it and leaked one index-sized RDD
      // per cycle). Only OWNED ids are touched: caller-provided
      // checkpointed batches in the same lineage (e.g. one batch
      // inserted into two index models) are someone else's only copy
      // and must survive.
      logicalRddLeaves(next).foreach(lr => ownedCheckpoints.add(lr.rdd.id))
      old.unpersist(blocking = false)
      logicalRddLeaves(old).foreach { lr =>
        if (ownedCheckpoints.remove(lr.rdd.id)) {
          lr.rdd.unpersist(blocking = false); ()
        }
      }
      next
    } else {
      val c = graft.core.Caches.cached(unioned)
      c.count() // materialize off the superseded cache before dropping it
      // cache-only branch: `c`'s lineage still bottoms out at the last
      // checkpoint RDD (a cache eviction recomputes from it), so only
      // the CacheManager entry for `old` may be dropped here — the
      // checkpoint blocks must survive until the next true compaction
      old.unpersist(blocking = false)
      c
    }
  }

  /** Transfer ownership of `state`'s Compact-created checkpoints to the
    * caller: after this, no future compaction will release them, so the
    * state can safely seed MULTIPLE append chains (see the
    * single-consumer contract on [[append]]). The caller becomes
    * responsible for freeing the checkpoint storage once every fork is
    * done with it (graft.core.Caches.releaseMaterialized). */
  def disown(state: DataFrame): Unit =
    logicalRddLeaves(state).foreach { lr =>
      ownedCheckpoints.remove(lr.rdd.id); ()
    }
}
