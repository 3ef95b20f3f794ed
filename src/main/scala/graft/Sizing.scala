package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shuffle-partition sizing derived from data size — the seam between
  * "shuffle is linear" and "no partition ever outgrows task memory".
  *
  * The engine-wide `spark.sql.shuffle.partitions` is cores-sized (32 in
  * the harness), which is right for the metadata-sized exchanges that
  * dominate the registry but wrong for the handful of exchanges whose
  * payload grows with the corpus: at the 100× ladder rung, 32 partitions
  * put ~8 GB of wedge pairs into each `graph_jaccard_links` aggregation
  * task (265 GB of sort-fallback spill) and the whole event grid into 32
  * `ts_interpolate` window sorts (17 GB spill). AQE can coalesce small
  * partitions and split skewed JOIN partitions, but it never raises the
  * partition count of an aggregate or window above
  * `spark.sql.shuffle.partitions` — the ceiling itself must scale.
  *
  * So the documented hot exchanges size themselves: the operator computes
  * a cheap exact row estimate for the exchange payload (a 1-row aggregate
  * over an already-staged metadata frame — never a corpus scan), converts
  * it to bytes, and pins `repartition(n, keys...)` with
  * n = ceil(bytes / target) clamped to [defaultParallelism, cap]. Because
  * the explicit `HashPartitioning(keys, n)` satisfies the downstream
  * aggregate/window/join distribution, the sized exchange REPLACES the
  * default one rather than adding a second shuffle; at test scale the
  * clamp floor keeps n = defaultParallelism, i.e. exactly the plan the
  * oracle gate has always verified. Partition count never changes values,
  * only memory-per-task, so no oracle pins any of this.
  *
  * On a real cluster the same arithmetic holds: 265 GB of wedge pairs at
  * a 64 MB target yields ~4,200 partitions — a normal shuffle width for a
  * 1000-executor job — and the clamp cap (65,536) is far above it. The
  * target (`Knobs.sizingTargetPartitionBytes`, 64 MB) is conf-tunable for
  * executors with different memory budgets.
  *
  * A sized exchange is only as good as the planner's willingness to keep
  * it. Three ways Spark silently undoes a pin, each measured at the 250×
  * rung (SCALE.md §19) and guarded at the call sites:
  *  1. JOIN co-partition checks require ALL join keys in declared order
  *     (`spark.sql.requireAllClusterKeysForCoPartition`) — a pin on a key
  *     subset is rewritten back to the conf width in place;
  *  2. scan-derived byte ESTIMATES under-size UnsafeRow exchanges by the
  *     parquet compression factor (~6 B/row on disk vs ~48 B shuffled) —
  *     size from exact row counts (footer-metadata `count()`) × stated
  *     row bytes where the exchange payload ≈ the scan;
  *  3. an unstaged COMMON SUBTREE multiplies a sized sort by its reader
  *     count even when the exchange itself is reused — stage any frame
  *     two consumers join against.
  */
object Sizing {

  /** Hard width cap: far above any measured need (100 TB of pair payload
    * at 64 MB = 1.6 M partitions would be mis-DESIGN, not mis-sizing —
    * the bucketed/banded operators bound payload long before that), and
    * low enough that the map-side shuffle file fan-out stays sane.
    */
  val MaxPartitions: Int = 65536

  private def targetBytes(spark: SparkSession): Long =
    Knobs.sizingTargetPartitionBytes.get(spark)

  /** Saturating multiply for size estimates (non-negative inputs): an
    * estimate that overflows Long clamps to Long.MaxValue so the width
    * degrades UP to `MaxPartitions` — a wrapped-negative product would
    * otherwise be floored away and silently collapse the sized exchange
    * back to the defaultParallelism floor, reinstating exactly the
    * spill pathology the seam exists to prevent.
    */
  def satMul(a: Long, b: Long): Long =
    try Math.multiplyExact(a, b)
    catch { case _: ArithmeticException => Long.MaxValue }

  /** Saturating add, for summing size estimates whose terms are already
    * saturated (see [[satMul]]): the sum must also degrade UP.
    */
  def satAdd(a: Long, b: Long): Long =
    try Math.addExact(a, b)
    catch { case _: ArithmeticException => Long.MaxValue }

  /** Partition count for an exchange expected to carry `estBytes`. A
    * negative estimate is an upstream multiply that wrapped — saturate
    * to the cap, never to the floor (see [[satMul]]).
    */
  def partitionsForBytes(spark: SparkSession, estBytes: Long): Int = {
    val floor = spark.sparkContext.defaultParallelism
    val sane = if (estBytes < 0) Long.MaxValue else estBytes
    val n = math.ceil(sane.toDouble / targetBytes(spark))
    math.max(floor.toLong, math.min(n.toLong, MaxPartitions.toLong)).toInt
  }

  /** Partition count for an exchange of `rows` rows at ~`bytesPerRow`
    * serialized bytes each (UnsafeRow: 8 B header + 8 B per field plus
    * var-len payloads — callers state their row shape at the call site).
    */
  def partitionsForRows(spark: SparkSession, rows: Long, bytesPerRow: Int): Int =
    partitionsForBytes(spark,
      if (rows < 0) Long.MaxValue // caller's row estimate itself wrapped
      else satMul(rows, bytesPerRow.toLong))

  /** Width for a PER-ROUND iterative frame (frontier / labels / degrees /
    * star edges): the same bytes→partitions arithmetic as
    * [[partitionsForBytes]] but floored at ONE partition instead of
    * defaultParallelism. An iterative operator re-scans every staged
    * round in the next round's job, so a parallelism floor multiplies
    * task-launch + closure-deserialization overhead by the round count
    * for frames that are O(frontier) rows: graph_k_core at sf0.1 spent
    * ~25 s of a 29 s wall in 60–96-task cache-scan stages of ≤100 rows
    * each (~0.45 s/task of it inside task DESERIALIZATION in storm
    * reps — StageProbe, r12). CPU per row in these frames is trivial by
    * construction — degree subtraction, label counting, min-star
    * emission — so parallelism below one target partition buys nothing
    * at any scale, and the width is data-derived: it grows back with
    * the corpus exactly like the sized exchanges above. Callers apply
    * it as `.coalesce(n)` on the frame they stage (a narrow merge of
    * the aggregate's post-shuffle partitions — no extra exchange).
    */
  def tightPartitionsForRows(spark: SparkSession, rows: Long, bytesPerRow: Int): Int = {
    val bytes =
      if (rows < 0) Long.MaxValue else satMul(rows, bytesPerRow.toLong)
    val n = math.ceil(bytes.toDouble / targetBytes(spark))
    math.max(1L, math.min(n.toLong, MaxPartitions.toLong)).toInt
  }

  /** Catalyst's size estimate for a frame — file-size-derived for scans,
    * so reliable exactly where a scan feeds the exchange directly.
    */
  def planBytes(df: DataFrame): Long = {
    val b = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (b.isValidLong) b.toLong else Long.MaxValue
  }
}
