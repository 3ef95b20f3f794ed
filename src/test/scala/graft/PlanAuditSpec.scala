package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, count, sum}

/** Physical-plan audits: the scale properties the engine claims are
  * asserted here, so a regression (lost pushdown, accidental cartesian,
  * un-broadcast dimension) fails CI instead of surfacing as a 100×
  * slowdown on a real cluster. The every-query audit (no cartesian
  * product, no unlisted nested-loop join) runs in QueryRegistrySpec's
  * registry pass, on the same DataFrame it executes.
  */
class PlanAuditSpec extends SparkSpec {

  test("top-k queries use per-partition heaps (TakeOrderedAndProject)") {
    Seq("ref_topk_newest", "ref_topk_oldest").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfTiny)
        .queryExecution.sparkPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), s"$name: $plan")
    }
  }

  test("sim_hybrid_rrf retrieves both modality lists via TakeOrdered heaps") {
    // each tower's top-100 must be a per-partition heap over the scan —
    // a global Sort before the limit would serialize the corpus through
    // one task; the only windows allowed run AFTER the ≤100-row limits
    val plan = SparkEntry.queries("sim_hybrid_rrf")(spark, sfTiny)
      .queryExecution.sparkPlan
    val takes = plan.collect {
      case t if t.nodeName.contains("TakeOrderedAndProject") => t
    }
    assert(takes.size >= 2, s"expected 2 modality heaps + fusion:\n$plan")
    plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.collectFirst {
        case t if t.nodeName.contains("TakeOrderedAndProject") => t
      }.isDefined, s"rank window not fed by a limited list:\n$w")
    }
  }

  test("win_topn_per_group plans WindowGroupLimit, not a full window sort") {
    // Spark ≥3.5 rewrites rank()/row_number() ≤ k into per-partition
    // group-limit heaps (Partial before the shuffle, Final after) — the
    // same O(n log k) shape a custom TopKPerGroup exec would provide.
    // Guard the query's written form staying inside the pattern the
    // optimizer recognizes: losing it silently degrades to a full
    // partition sort of every group at corpus scale.
    val plan = SparkEntry.queries("win_topn_per_group")(spark, sfTiny)
      .queryExecution.sparkPlan.toString
    assert("WindowGroupLimit.*Partial".r.findFirstIn(plan).isDefined, plan)
    assert("WindowGroupLimit.*Final".r.findFirstIn(plan).isDefined, plan)
  }

  test("ANN candidate caps plan WindowGroupLimit heaps (LSH buckets, IVF cells)") {
    // both caps are written as row_number() <= k rank filters precisely
    // so the optimizer plans per-partition group-limit heaps instead of
    // fully sorting every bucket/cell — the shape that keeps the caps
    // O(n log k) at corpus scale. Losing the pattern (e.g. a rewrite
    // that hides the rank filter from the optimizer) would silently
    // degrade to full sorts of the hottest buckets.
    Seq("sim_ann_lsh", "sim_ann_ivf").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfTiny)
        .queryExecution.sparkPlan.toString
      assert("WindowGroupLimit".r.findFirstIn(plan).isDefined,
        s"$name lost its WindowGroupLimit cap:\n$plan")
    }
  }

  test("agg_median_manual: no whole-group single-task sort on the data path") {
    // the exact median must come from the two-pass bucketed selection:
    // the window that touches TABLE rows partitions by (status, bkt) —
    // per-task state bounded by bucket width — never by status alone,
    // which would sort each status's entire row set in one task
    val plan = SparkEntry.queries("agg_median_manual")(spark, sfTiny)
      .queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, plan.toString)
    val dataWindows = windows.filter(_.toString.contains("row_number"))
    assert(dataWindows.nonEmpty, plan.toString)
    dataWindows.foreach { w =>
      val parts = w.partitionSpec.map(_.sql).mkString(",")
      assert(parts.contains("bkt"),
        s"row_number window must partition by the range bucket, got: $parts")
    }
  }

  test("ref_sort_full keeps its global sort (bench regression guard)") {
    val plan = SparkEntry.queries("ref_sort_full")(spark, sfTiny)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("Sort "), plan)
  }

  test("q1_pricing_summary prunes columns and pushes the shipdate filter") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sfTiny)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    // 11-column table, ≤7 read: pruning reached the parquet scan
    assert(scan.schema.size <= 7, s"read schema too wide: ${scan.schema.fieldNames.mkString(",")}")
    assert(scan.metadata("PushedFilters").contains("l_shipdate"),
      scan.metadata("PushedFilters"))
  }

  test("sink_partitioned_roundtrip read-back prunes to one partition") {
    val df = SparkEntry.queries("sink_partitioned_roundtrip")(spark, sfTiny)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.metadata.contains("PartitionFilters") => f
    }
    assert(scans.exists(_.metadata("PartitionFilters").contains("o_month")),
      scans.map(_.metadata.getOrElse("PartitionFilters", "")).mkString("; "))
  }

  test("join_q5_regional broadcasts its dimension tables") {
    val plan = SparkEntry.queries("join_q5_regional")(spark, sfTiny)
      .queryExecution.sparkPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
  }

  test("corpus-side candidate joins never FORCE a broadcast (100 TB shape)") {
    // documents/embeddings-derived frames must not carry broadcast()
    // hints: a forced broadcast of an O(corpus) side OOMs at scale. With
    // autoBroadcastJoinThreshold disabled, any Broadcast* left in these
    // plans can only come from a hardcoded hint — there must be none.
    // (AQE may still auto-broadcast at runtime when a side measures
    // small; that adaptivity is exactly what a hint would destroy.)
    val corpusQueries = Seq(
      "dedup_ngram_jaccard", "dedup_minhash", "dedup_simhash",
      "dedup_levenshtein", "dedup_embedding_nn", "dedup_semantic",
      "dedup_substring", "sim_ann_lsh", "sim_knn_per_label", "sim_ann_ivf",
      "curate_contamination", "curate_domain_mix", "text_tfidf",
      "text_repetition")
    // text_tfidf and curate_domain_mix legitimately broadcast ONE side:
    // a 1-row corpus-size aggregate (a scalar, not corpus-sized);
    // sim_ann_ivf broadcasts its K-row seed-centroid frame (bounded by
    // the ivfCells conf, not by corpus size). Every other corpus-derived
    // join must be hint-free — no BroadcastHashJoin, and no exchange
    // beyond the single bounded one.
    val allowedExchanges = Map(
      "text_tfidf" -> 1, "curate_domain_mix" -> 1,
      "sim_ann_ivf" -> 1).withDefaultValue(0)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // frames cached by EARLIER tests embed physical plans built under the
    // default threshold (where auto-broadcast is legitimate); drop them so
    // every subtree here is planned fresh under threshold = -1
    spark.catalog.clearCache()
    try corpusQueries.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfTiny)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"$name forces a broadcast hash join of a corpus-derived side:\n$plan")
      assert("BroadcastExchange".r.findAllIn(plan).size <= allowedExchanges(name),
        s"$name forces a broadcast of a corpus-derived side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // symmetric: frames staged DURING this test were planned under
      // threshold=-1 — drop them so later suites re-plan under defaults
      spark.catalog.clearCache()
    }
  }

  test("AQE re-plans the de-hinted band join adaptively at runtime") {
    // the broadcast hints were deleted so the STATIC plan never forces a
    // broadcast; the flip side of that policy is that AQE must still be
    // free to specialize at runtime when a side MEASURES small. Execute
    // the banded self-join at sfTiny and check the final adaptive plan
    // took a runtime decision (broadcast conversion or coalesced reads).
    spark.catalog.clearCache() // plans cached by earlier tests pin old shapes
    val df = SparkEntry.queries("dedup_simhash")(spark, sfTiny)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin") ||
      finalPlan.contains("AQEShuffleRead"), finalPlan)
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // Spark injects a bloom filter built from the selective (dim) side
    // into the fact-side scan for shuffle joins — rows that can't match
    // die before the exchange. The application-side threshold (10 GB
    // default) targets real clusters; lower it so the optimization is
    // exercised (and thereby pinned) at test scale.
    // injection targets SHUFFLE joins (for a broadcast join the filter
    // would be redundant), so auto-broadcast must be off at this scale
    val key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val prevB = spark.conf.get(bcast)
    spark.conf.set(key, "0")
    spark.conf.set(bcast, "-1")
    spark.catalog.clearCache()
    try {
      val o = Tables.orders(spark, sfTiny)
        .filter(col("o_orderstatus") === "F")
      val li = Tables.lineitem(spark, sfTiny)
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(org.apache.spark.sql.functions.sum(col("l_quantity")).as("q"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") &&
        plan.contains("bloom_filter_agg"), plan)
    } finally {
      spark.conf.set(key, prev)
      spark.conf.set(bcast, prevB)
      spark.catalog.clearCache()
    }
  }

  test("dedup_ngram_jaccard collapses the join output map-side (partial agg)") {
    // the Σ df² posting-list join output must be partially aggregated
    // BEFORE the (doc_a, doc_b) shuffle — losing the partial agg would
    // shuffle the full join expansion at corpus scale
    val plan = SparkEntry.queries("dedup_ngram_jaccard")(spark, sfTiny)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("partial_count"), plan)
  }

  test("blocked kNN joins shuffle on the block key, not all-pairs") {
    val plan = SparkEntry.queries("sim_knn_per_label")(spark, sfTiny)
      .queryExecution.sparkPlan.toString
    // equi-join on label: a hash or sort-merge join, never nested-loop
    assert(plan.contains("Join") && !plan.contains("NestedLoop"), plan)
  }

  // ─── SmallScansInOnePartition ───────────────────────────────────────

  private object Aqe extends AdaptiveSparkPlanHelper

  /** Final adaptive plan of `df` after running it. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    Aqe.collect(plan) { case e: ShuffleExchangeExec => e }

  /** A small join plus aggregate: two file scans of the sfTiny tables. */
  private def smallJoinAgg(): DataFrame = {
    val o = Tables.orders(spark, sfTiny)
    val li = Tables.lineitem(spark, sfTiny)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_quantity")).as("q"), count("*").as("n"))
  }

  test("a plan whose file scans fit one file split runs with no shuffle") {
    val plan = finalPlan(smallJoinAgg())
    assert(shuffles(plan).isEmpty, plan)
    assert(Aqe.collect(plan) { case c: CoalesceExec => c }.nonEmpty, plan)
  }

  test("a plan whose file scans exceed one file split keeps its shuffle") {
    // with a 1-byte open cost the split is bytes / 4 cores, under the total
    val key = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val plan = finalPlan(smallJoinAgg())
      assert(shuffles(plan).nonEmpty, plan)
      assert(Aqe.collect(plan) { case c: CoalesceExec => c }.isEmpty, plan)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("an explicit repartition(n) under a small scan keeps its n partitions") {
    val df = Tables.lineitem(spark, sfTiny).repartition(4, col("l_orderkey"))
    assert(df.rdd.getNumPartitions === 4)
    val plan = finalPlan(df)
    assert(shuffles(plan).map(_.numPartitions) === Seq(4), plan)
  }

  test("a plan over a staged frame is left to the planner") {
    Materialize.scoped {
      val staged = Materialize.stage(
        Tables.lineitem(spark, sfTiny).repartition(4, col("l_partkey")))
      val plan = finalPlan(
        staged.groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q")))
      assert(Aqe.collect(plan) { case t: InMemoryTableScanExec => t }.nonEmpty, plan)
      assert(Aqe.collect(plan) { case c: CoalesceExec => c }.isEmpty, plan)
      assert(shuffles(plan).nonEmpty, plan)
    }
  }
}
