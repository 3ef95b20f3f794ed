package graft.functions

import graft.Sizing
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.FilePartition

/** Optimizer rule: guard expensive bounded edit-distance comparisons
  * with their cheap length-difference necessary condition.
  *
  * `levenshtein(a, b) <= k` implies `abs(length(a) - length(b)) <= k`
  * (each insert/delete changes length by one), and the guard is O(1)
  * while the distance is O(len²) (or O(k·len) bounded). Rewriting
  *
  *   Filter(levenshtein(a, b) <= k)
  * to
  *   Filter(abs(length(a) - length(b)) <= k && levenshtein(a, b) <= k)
  *
  * lets the conjunction short-circuit the quadratic call for the
  * (typically vast) majority of candidate pairs whose lengths already
  * rule them out. Semantics are unchanged: the added conjunct is implied
  * by the retained one. The rule is idempotent — it skips predicates
  * already guarded.
  */
object LevenshteinLengthGuard extends Rule[LogicalPlan] {

  private def guard(a: Expression, b: Expression, k: Expression): Expression =
    LessThanOrEqual(Abs(Subtract(Length(a), Length(b))), k)

  private def alreadyGuarded(cond: Expression, a: Expression, b: Expression): Boolean =
    cond.exists {
      case LessThanOrEqual(Abs(Subtract(Length(x), Length(y), _), _), _) =>
        (x.semanticEquals(a) && y.semanticEquals(b)) ||
          (x.semanticEquals(b) && y.semanticEquals(a))
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      // Only the UNBOUNDED form: the threshold variant returns -1 above
      // its bound, which passes `<= k` but would fail the length guard —
      // rewriting it would change results.
      val rewritten = cond.transformUp {
        case cmp @ LessThanOrEqual(Levenshtein(a, b, None), k: Literal)
            if k.foldable && !alreadyGuarded(cond, a, b) =>
          And(guard(a, b, k), cmp)
        case cmp @ LessThan(Levenshtein(a, b, None), k: Literal)
            if k.foldable && !alreadyGuarded(cond, a, b) =>
          And(guard(a, b, k), cmp)
      }
      if (rewritten.fastEquals(cond)) f else Filter(rewritten, child)
  }
}

/** Post-planner rule: a plan whose file scans together are no bigger
  * than one file split runs in one partition.
  *
  * When every leaf of the physical plan is a `FileSourceScanExec`, their
  * relations' sizes sum to no more than the split size Spark itself
  * would give that many bytes (`FilePartition.maxSplitBytes`:
  * min(`files.maxPartitionBytes`, max(`files.openCostInBytes`,
  * bytes / default parallelism)), which with more than one core is the
  * 4 MiB open cost), and no expression is nondeterministic (partition ids
  * feed `rand` and friends), each scan is wrapped in a one-partition
  * `CoalesceExec`. `SinglePartition` satisfies every required
  * distribution but broadcast, so `EnsureRequirements` then adds no
  * shuffle, and a short query runs as a job or two instead of one per
  * exchange. Explicit `repartition(n)` exchanges are already in the
  * planner's output and keep their width; a plan reading a staged cache
  * or an RDD has a leaf that is not a file scan and is left alone.
  * Spark runs the rule inside AQE only (before `EnsureRequirements`), so
  * streaming micro-batches, which plan without AQE, never see it.
  */
final case class SmallScansInOnePartition(spark: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val leaves = plan.collectLeaves()
    val scans = leaves.collect { case s: FileSourceScanExec => s }
    lazy val bytes = scans.map(_.relation.sizeInBytes).foldLeft(0L)(Sizing.satAdd)
    if (scans.size != leaves.size || bytes > FilePartition.maxSplitBytes(spark, bytes) ||
        plan.exists(_.expressions.exists(!_.deterministic))) plan
    else plan.transformUp { case s: FileSourceScanExec => CoalesceExec(1, s) }
  }
}
