package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** Materialization seam for shared sub-frames and iterative rounds.
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
  * frames. Outside any bracket, staging only persists. Converging loops
  * (bfs, k-core, connected components) run their rounds through
  * `fixpoint`.
  */
object Materialize {

  /** The calling thread's staged frames (null outside `scoped`): all
    * staging happens at plan-construction time on the query's driver
    * thread, so operators call `stage` without a token.
    */
  private val current = new ThreadLocal[ConcurrentLinkedQueue[DataFrame]]

  /** Run `body` with a fresh staging scope bound to this thread, then
    * release everything it staged (cache entries unpersisted) — even on
    * exception. Nesting restores the outer scope. This is the bracket Verify/Bench wrap each query in;
    * concurrent runners get per-query isolation for free by each
    * wrapping their own thread's work. `blocking = false`: block cleanup
    * proceeds async while the next query starts.
    */
  def scoped[T](body: => T): T = {
    val prev = current.get()
    val s = new ConcurrentLinkedQueue[DataFrame]()
    current.set(s)
    try body
    finally {
      current.set(prev)
      var df = s.poll()
      while (df != null) {
        df.unpersist(blocking = false)
        df = s.poll()
      }
    }
  }

  /** Stage a multiply-consumed frame behind a materialization barrier. */
  def stage(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    Option(current.get()).foreach(_.add(df))
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
    * their parents — only the SQL plan is cut. The cut loses the
    * frame's output partitioning; a frame that must keep it (a join
    * side reused every round) goes through plain `stage`.
    */
  private def stageIterative(df: DataFrame): DataFrame =
    stage(df.sparkSession.createDataFrame(df.rdd, df.schema))

  /** Unpersist a staged frame now and forget it in the calling thread's
    * scope, so a long loop's scope does not grow with its round count.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    Option(current.get()).foreach(_.remove(df))
  }

  /** One step outside a loop: cut and stage `next`, build its cache with
    * ONE action that also evaluates `probe`, and only then release `prev`
    * (the frame it replaces, whose cache `next` may still read).
    *
    * @return (staged `next`, probe row: row count first, then `probe`)
    */
  def advance(prev: Option[DataFrame], next: DataFrame,
              probe: Column*): (DataFrame, Row) = {
    val out = stageIterative(next)
    val row = out.agg(count(lit(1)), probe: _*).head()
    prev.foreach(release)
    (out, row)
  }

  /** Iterate `round` from `init` until `done`. Round r (from 1) stages
    * `round(prev, r)` as `advance` does — cut, one action for cache and
    * probe row — then asks `done(r, row, prev, next)`, and only then
    * releases `prev` (so the stop rule may still read both frames).
    * Reaching `maxRounds` without `done` fails with an
    * IllegalArgumentException naming `what`: a loop cut short would
    * return a non-fixpoint.
    *
    * @return (the last round's staged frame, rounds taken)
    */
  def fixpoint(init: DataFrame, maxRounds: Int, what: String)
              (round: (DataFrame, Int) => DataFrame)
              (probe: Column*)
              (done: (Int, Row, DataFrame, DataFrame) => Boolean): (DataFrame, Int) = {
    var cur = init
    var rounds = 0
    var converged = false
    while (!converged) {
      require(rounds < maxRounds, s"$what did not converge within $maxRounds rounds")
      rounds += 1
      val (next, row) = advance(None, round(cur, rounds), probe: _*)
      converged = done(rounds, row, cur, next)
      release(cur)
      cur = next
    }
    (cur, rounds)
  }
}
