package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/**
 * Registry for the intermediate frames graft operators persist internally
 * (shingle sets, signature frames, prefix frames, bigram frames, ...).
 *
 * Operators return lazy DataFrames, so they cannot unpersist after "their"
 * action — the terminal action belongs to the caller, and unpersisting
 * before it would re-run the very subtree the persist exists to share.
 * Instead every internal persist registers here, and a long-lived session
 * (e.g. repeated [[graft.functions.Dedup.ingestDedup]] batches) reclaims
 * executor storage between batches with ONE call:
 *
 * {{{
 *   graft.GraftCaches.clearAll()   // unpersist every operator-owned frame
 * }}}
 *
 * Without it the caches accumulate MEMORY_AND_DISK entries until Spark's
 * LRU eviction churns — correct but wasteful. For frames registered by
 * [[cache]], `clearAll` is safe at any point: unpersisting only drops the
 * cached blocks; any later reuse recomputes from lineage.
 *
 * NOT for frames whose plans embed [[checkpointCut]] results: under the
 * default `local` cut mode the cut has no lineage to recompute from, so
 * such a frame must be FULLY CONSUMED before `clearAll()` or the exit of
 * its [[scoped]] block — reuse afterwards fails on the missing checkpoint
 * blocks. The affected operators are `Dedup.chunkDedupIndexed` and
 * `Dedup.chunkNovelty`, and through them the `graft_chunk_screen` and
 * `graft_chunk_novelty` TVFs.
 *
 * CONCURRENCY CAVEAT: the registry is process-global, so `clearAll()`
 * from one job unpersists frames a CONCURRENT job is still acting on —
 * correct (lineage recomputes) but a performance cliff. Concurrent
 * callers should wrap their work in [[scoped]], which confines
 * registration to the enclosing block and reclaims ONLY that block's
 * frames:
 *
 * {{{
 *   GraftCaches.scoped {            // frames persist inside the block
 *     val kept = Dedup.ingestDedup(batch, corpus, "id", "text", 0.7)
 *     kept.write.parquet(out)       // ACTION inside the scope
 *   }                               // block's frames unpersisted here
 * }}}
 *
 * The terminal action must run INSIDE the scope — a DataFrame built in a
 * scope but acted on after it recomputes its persisted subtrees (correct,
 * cache benefit lost). Scopes are per-thread (operators register during
 * plan construction on the calling thread) and nest; frames registered in
 * a scope are invisible to `clearAll()` and to outer scopes.
 *
 * Isolation is per-FRAME, not per-cache-entry: Spark's CacheManager
 * dedups persisted plans, so when two jobs persist PLAN-IDENTICAL frames
 * (same operator over the same input), both share one cache entry and
 * either side's cleanup uncaches it for both (the other recomputes from
 * lineage — correct, cache benefit lost). Scoping guarantees a block
 * never reclaims a DIFFERENT plan's cache; identical-plan overlap is
 * inherent to CacheManager semantics.
 */
object GraftCaches {

  private val frames = new ConcurrentLinkedQueue[Dataset[_]]()

  /** Per-thread scope override: when set, [[cache]] registers there. */
  private val currentScope =
    new ThreadLocal[ConcurrentLinkedQueue[Dataset[_]]]()

  /** Persist (MEMORY_AND_DISK) and register for [[clearAll]] — or for the
    * enclosing [[scoped]] block when one is active on this thread. */
  private[graft] def cache[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    val scope = currentScope.get()
    (if (scope != null) scope else frames).add(ds)
    ds
  }

  /**
   * LINEAGE-CUTTING sibling of [[cache]]: eager `localCheckpoint` —
   * same MEMORY_AND_DISK materialization, but the returned frame's
   * logical plan is a two-node `LogicalRDD` instead of the full build
   * tree. Use where a frame is re-referenced across DIAMONDS of a deep
   * composed plan (the ingest-screen decision chain): a plain persist
   * dedups EXECUTION but every reference still carries the whole
   * logical subtree through analysis and CacheManager plan matching,
   * which profiled as seconds of pure driver planning per composed
   * query. Trade-off vs cache: the checkpointed blocks are not
   * recomputable from lineage (an executor loss fails the job instead
   * of recomputing — acceptable for batch-sized intermediates inside
   * one screen invocation), and the call is EAGER (it materializes
   * now; the screen chain is already eager via chunkDedupIndexed's
   * bounded guard probe, so this adds no new semantics there).
   *
   * Cleanup: registered in the same registry as persists; [[drain]]
   * unpersists the underlying checkpoint RDD directly (Dataset
   * .unpersist only reaches CacheManager entries, which a
   * localCheckpoint does not have).
   *
   * CUT STRATEGY is configurable per session via
   * `spark.graft.lineageCut.mode` (runtime-settable):
   *  - `local` (default): eager `localCheckpoint` — fastest, but the
   *    materialized blocks are NOT recomputable from lineage, so on a
   *    real cluster an executor loss inside the consuming job fails it
   *    instead of recomputing. The right local/batch default.
   *  - `reliable`: eager `checkpoint` to the context's checkpoint dir
   *    (`SparkContext.setCheckpointDir` must be set — refused loud
   *    otherwise) — same two-node plan, executor-loss tolerant, costs
   *    one write+read of the frame. The long-running-cluster posture;
   *    checkpoint FILES are reclaimed by the ContextCleaner when
   *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`, or with
   *    the checkpoint dir's lifecycle.
   *  - `persist`: plain [[cache]] — full lineage kept (maximum fault
   *    tolerance, no extra materialization), but the plan is NOT cut:
   *    the driver-planning cost the cut exists to remove comes back.
   *    Escape hatch for debugging/lineage-auditing sessions.
   */
  private[graft] def checkpointCut[T](ds: Dataset[T]): Dataset[T] = {
    val mode = ds.sparkSession.conf
      .get("spark.graft.lineageCut.mode", "local")
    val c = mode match {
      case "local" => ds.localCheckpoint(eager = true)
      case "reliable" =>
        require(ds.sparkSession.sparkContext.getCheckpointDir.isDefined,
          "graft lineageCut.mode=reliable requires " +
            "SparkContext.setCheckpointDir")
        ds.checkpoint(eager = true)
      case "persist" => return cache(ds)
      case other => throw new IllegalArgumentException(
        s"spark.graft.lineageCut.mode must be local|reliable|persist, " +
          s"got '$other'")
    }
    val scope = currentScope.get()
    (if (scope != null) scope else frames).add(c)
    c
  }

  /** Number of currently-registered GLOBAL operator caches
    * (monitoring/tests); scoped frames are counted by their scope only. */
  def registered: Int = frames.size()

  /** Run `f` with operator-cache registration confined to this block;
    * every frame an operator persists inside it is unpersisted on exit
    * (normal or exceptional). See the object Scaladoc for the contract. */
  def scoped[A](f: => A): A = {
    val mine = new ConcurrentLinkedQueue[Dataset[_]]()
    val prev = currentScope.get()
    currentScope.set(mine)
    try f
    finally {
      if (prev != null) currentScope.set(prev) else currentScope.remove()
      drain(mine)
    }
  }

  /** Unpersist every GLOBALLY-registered frame (non-blocking). Scoped
    * frames are untouched — their block reclaims them. */
  def clearAll(): Unit = drain(frames)

  private def drain(q: ConcurrentLinkedQueue[Dataset[_]]): Unit = {
    var f = q.poll()
    while (f != null) {
      // A registered frame can outlive its SparkSession (a demo main or
      // test builds its own session, operators register globally, the
      // session stops): unpersist against the stopped context NPEs
      // inside CacheManager. A dead frame needs no reclaim — its blocks
      // died with the context — so skip it rather than failing the LIVE
      // caller's cleanup. (Sessions should still clearAll() before
      // stop(); this guard covers the ones that forget.)
      if (!f.sparkSession.sparkContext.isStopped) {
        f.unpersist(blocking = false)
        // A checkpointCut frame's blocks live on its underlying RDD,
        // which Dataset.unpersist (CacheManager-scoped) never reaches.
        f.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
      }
      f = q.poll()
    }
  }

  /** `.graftCached` sugar so operator code reads as a plan annotation. */
  private[graft] implicit class Cacheable[T](private val ds: Dataset[T])
    extends AnyVal {
    def graftCached: Dataset[T] = cache(ds)
  }
}
