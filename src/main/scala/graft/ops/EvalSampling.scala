package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic md5-slice sampling for the two quadratic TRUTH arms
  * (`sim_ann_recall_gate`'s exhaustive yardstick, `dedup_minhash_eval`'s
  * all-pairs exact-Jaccard arm).
  *
  * Ground truth is the one thing the banded/celled operators cannot
  * prune, so both evals are O(n²) by design; at corpus scale an operator
  * runs them on a sample. The slice must be (a) DETERMINISTIC — the same
  * ids land in the slice on every engine, run, and partitioning, so the
  * sliced eval is reproducible and cross-checkable; and (b) id-hash
  * based — uncorrelated with ingestion order, cluster structure, or any
  * column the eval measures, which is what makes the sliced estimate
  * unbiased over in-slice pairs. `md5(id) mod m == 0` (on the first 15
  * hex digits — 60 bits, sign-safe in a BIGINT) gives both; md5 is the
  * engine's shared deterministic hash.
  *
  * `Knobs.evalSampleMod` = m keeps 1/m of ids; unset or 1 = the
  * exhaustive default. The DuckDB oracles pin the DEFAULT, so Verify
  * REFUSES to run with the knob set (oracle-pinned, see Knobs): the hash
  * gate can never be run against a sliced result.
  *
  * Sampling semantics per eval:
  *  - recall gate: the QUERY side is sliced, the corpus/quantizer side
  *    stays full — recall@1 per sliced query is exactly its full-run
  *    value, so the sliced gate is the full gate restricted to slice
  *    queries (cost n·n/m instead of n²).
  *  - minhash eval: both pair sides are sliced — truth membership and
  *    band-candidate membership are per-pair properties (signatures are
  *    per-doc), so sliced counts are EXACTLY the full-run counts
  *    restricted to pairs with both docs in slice (cost (n/m)²).
  */
object EvalSampling {
  /** Membership predicate: true iff `id` is in the deterministic 1/m
    * slice. `m <= 1` compiles to a constant-true (no hash in the plan).
    */
  def inSlice(id: Column, m: Long): Column =
    if (m <= 1L) lit(true)
    else pmod(
      conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long"),
      lit(m)) === lit(0L)
}
