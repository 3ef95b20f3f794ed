package graft.ops

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via alternating large-star /
  * small-star (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14): converges in O(log n) rounds regardless of graph
  * diameter, unlike plain min-label propagation whose round count is the
  * component diameter (unbounded for long dup-chains at corpus scale).
  *
  * Each round is two grouped aggregations over the edge frame:
  *
  *   large-star: for every node u with neighborhood Γ(u) (symmetrized),
  *     link every neighbor v > u to m = min(Γ(u) ∪ {u});
  *   small-star: orient edges large→small, link every neighbor v ≤ u
  *     (and u itself) to m = min(Γ⁻(u) ∪ {u}).
  *
  * Both steps strictly preserve connectivity; the fixed point is a
  * forest of depth-1 stars rooted at each component's minimum node id,
  * read off directly as (node → root) labels.
  *
  * Edges shuffle on the node id each round — no driver-side graph state;
  * the only driver value per round is the convergence count. Per-round
  * frames go through the Materialize seam's plan-truncating stage, so
  * O(log n) rounds of plan do not stack.
  */
object ConnectedComponents {

  /** @param pairs undirected edges as two numeric columns (src, dst)
    * @param maxRounds safety bound (log₂ of any realistic n plus slack)
    * @return (labels: (node, component) with component = min reachable
    *         node id — every node of `pairs` appears; rounds taken)
    */
  def run(pairs: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    val spark = pairs.sparkSession

    // u >= v canonical orientation (plan-truncating stage: the upstream
    // pair-mining plan must not be re-embedded in every round's star
    // plans). Self-loops are KEPT in this staged frame so `nodes` sees a
    // node whose only edges are self-loops — the scaladoc guarantees
    // every node of `pairs` appears in the labels — and only `edges`,
    // the star loop's input, filters them out. Such a node then labels
    // itself via the left-join fallback below, which is its component.
    val canon = Materialize.stageIterative(
      pairs.toDF("a", "b")
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .distinct())
    // exact edge count (builds canon's cache — the count the convergence
    // loop would pay anyway): sizes the per-round star frames below with
    // a floor-1 tight width (Sizing.tightPartitionsForRows) — every
    // round re-scans its staged predecessor, so conf-width rounds pay
    // ~32 near-empty task launches per scan per round at test scale
    // (star output is bounded by the edge count, so one width serves
    // all rounds; it grows with the corpus like any sized exchange)
    val canonRows = canon.count()
    val tightE = graft.Sizing.tightPartitionsForRows(spark, canonRows * 2, 48)
    var edges = canon.filter(col("u") =!= col("v"))
    val nodes = Materialize.stage(
      canon.select(col("u").as("node"))
        .union(canon.select(col("v").as("node")))
        .distinct()
        .coalesce(graft.Sizing.tightPartitionsForRows(spark, canonRows * 2, 24)))
    // nodes is consumed only AFTER the loop (label extraction); build its
    // cache now from canon's still-warm cache, or the whole upstream
    // pair-mining pipeline re-runs at label time
    nodes.count()

    // Emission is join-based, never collect_set: a high-degree node's
    // neighborhood must stay spread across rows (one array per celebrity
    // node would single-row-OOM at corpus scale). Per-node minima are a
    // map-side-combinable agg; the join back to edges is an equi-join on
    // the node id, which AQE skew-splits if a node is hot.

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      // m(u) = min(Γ(u) ∪ {u}); emit (v, m) for neighbors v > u
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u >= m
        .filter(col("u") =!= col("v"))
      // NOT distinct'd (r12): duplicates cannot change smallStar's MIN
      // and its closing distinct canonicalizes the round's output set,
      // so the mid-round (u, v) exchange was pure overhead — large-star
      // emits exactly one row per undirected input edge (only the
      // v > u orientation survives), so the duplicate mass smallStar
      // sees is bounded by the edge count it already carried.
    }

    def smallStar(e: DataFrame): DataFrame = {
      // edges oriented u > v, so Γ⁻(u) = {v : (u,v)}: link every v and
      // u itself to m(u) = min(Γ⁻(u)) (all v < u, so u never the min)
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val linkNbrs = e.join(mins, "u").select(col("v"), col("m"))
      val linkSelf = mins.select(col("u").as("v"), col("m"))
      linkNbrs.union(linkSelf)
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")) // v > m by construction
        .distinct()
    }

    var rounds = 0
    var converged = false
    // convergence check costs ONE cheap agg action per round: an
    // order-independent (count, hash-XOR) signature of the edge set
    // (XOR: commutative, overflow-free under ANSI mode; the frames are
    // distinct so duplicates can't cancel). Only when consecutive
    // signatures collide is set equality CONFIRMED with an anti-join
    // (counts equal + no new edges ⟺ equal sets), so a hash collision
    // can never false-converge.
    var prevSig: (Long, Long) = null
    while (!converged && rounds < maxRounds) {
      // stageIterative: plan-truncating — round r's plan must not embed
      // round r-1's (analysis cost would grow exponentially in rounds)
      val next = Materialize.stageIterative(
        smallStar(largeStar(edges)).coalesce(tightE))
      val row = next.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      val sig = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      if (sig == prevSig)
        converged = next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      prevSig = sig
      // the superseded round's blocks are dead now — free them instead
      // of letting O(log n) rounds of cache stack up
      edges.unpersist(blocking = false)
      edges = next
      rounds += 1
    }
    require(converged, s"connected components did not converge in $maxRounds rounds")

    // fixed point is depth-1 stars rooted at component minima; isolated
    // root nodes label themselves
    val labels = nodes
      .join(edges.select(col("u").as("node"), col("v").as("root")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("component"))
    (labels, rounds)
  }
}
