package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialization seam for shared sub-frames.
  *
  * Several operators compute a frame that is consumed by multiple joins
  * (shingle sets, MinHash/SimHash signatures, LSH bands): without a
  * barrier each consumer re-runs the whole upstream pipeline, and
  * Catalyst's filter pushdown can re-substitute an expensive projected
  * expression into every consumer (up to 3 evaluations observed).
  *
  * Round 2 used `localCheckpoint()` everywhere. That is the wrong
  * primitive for a real cluster: it truncates lineage into
  * executor-LOCAL blocks, so a single lost executor kills the job, and
  * it pins eager materialization that defeats AQE re-planning. The seam
  * is `persist(MEMORY_AND_DISK)` — a plan-level barrier
  * (`InMemoryRelation`) that is recomputable from lineage on executor
  * loss and spills instead of OOMing. Staged frames are tracked per
  * `scoped {}` bracket so runners release each query's cache as it
  * finishes (Spark's CacheManager holds a reference, so un-released
  * cache entries would otherwise accumulate across an 85-query run),
  * and releasing one query never touches a concurrent query's staged
  * frames.
  */
object Materialize {

  /** One query's staged materializations. Staging is tracked per scope
    * so releasing one query's frames cannot touch a CONCURRENT query's
    * live cache — operators call `stage` without a token, and the scope
    * is resolved from the calling thread (all staging happens at
    * plan-construction time on the query's driver thread).
    */
  final class Scope private[Materialize] () {
    private[Materialize] val staged =
      new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  }

  /** Fallback scope for callers outside any `scoped` bracket — the
    * original process-global, single-threaded-runner behavior.
    */
  private val globalScope = new Scope
  private val current = ThreadLocal.withInitial[Scope](() => globalScope)

  /** Run `body` with a fresh staging scope bound to this thread, then
    * release everything it staged (cache entries unpersisted) — even on
    * exception. Nesting restores the outer scope. This is the bracket Verify/Bench wrap each query in;
    * concurrent runners get per-query isolation for free by each
    * wrapping their own thread's work.
    */
  def scoped[T](body: => T): T = {
    val prev = current.get()
    val s = new Scope
    current.set(s)
    try body
    finally {
      current.set(prev)
      release(s)
    }
  }

  /** Stage a multiply-consumed frame behind a materialization barrier. */
  def stage(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    current.get().staged.add(df)
    df
  }

  /** Stage + force the cache to build NOW (persist is lazy). For frames
    * whose first consumers are two CONCURRENT stages of a self-join:
    * with a lazy cache both stages race to compute the same partitions
    * and serialize on block locks while holding task slots — observed
    * as multi-× run-to-run variance on the banded self-joins. One
    * upfront pass builds the cache; the join stages then only read.
    */
  def stageEager(df: DataFrame): DataFrame = {
    val out = stage(df)
    out.count()
    out
  }

  /** Stage a frame produced by an ITERATIVE loop: like `stage`, but
    * first truncates the Catalyst plan (`createDataFrame(df.rdd,
    * schema)` → `LogicalRDD`). Without truncation each round's plan
    * embeds the previous round's several times over, so analysis cost
    * grows exponentially with round count and Catalyst tree-walks hang
    * long before the data does. Unlike `localCheckpoint()`, the RDD
    * lineage underneath is preserved — lost partitions recompute from
    * their parents — only the SQL plan is cut.
    */
  def stageIterative(df: DataFrame): DataFrame =
    stage(df.sparkSession.createDataFrame(df.rdd, df.schema))

  /** Release every frame staged in the CALLING THREAD's current scope
    * (the process-global fallback scope outside any `scoped` bracket —
    * the original single-threaded-runner contract). Prefer `scoped {}`,
    * which releases automatically and isolates concurrent queries.
    * `blocking = false`: block cleanup proceeds async while the next
    * query starts.
    */
  def releaseAll(): Unit = release(current.get())

  private def release(s: Scope): Unit = {
    var df = s.staged.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = s.staged.poll()
    }
  }
}
