package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so Verify/Bench/tests share one config.
  *
  * Local mode stands in for the real cluster: shuffle partitions sized to
  * cores (not the 200 default), AQE on (runtime coalesce + skew-join
  * handling — the knobs that matter at 100 TB), UTC session TZ for oracle
  * parity, and the legacy nanos read for the ns-precision events table.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(master: String = s"local[$cpus]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new functions.GraftExtensions)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Default 1MB floor lets AQE coalesce small-bytes/high-CPU shuffles
      // (shingle/signature expansions: ~10MB in, 73M joined rows out) down
      // to ~3 tasks, serializing the expansion. A low floor keeps
      // parallelism-first coalescing at defaultParallelism for them while
      // still merging genuinely empty partitions.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // recursion accumulates exactly the data it walks (graph_chain_walk's
      // total is |lineitem|), so the 1M-row debug default trips on real
      // data scales; sized here ONCE as the engine-wide bound rather than
      // mutated per-query (a per-query set would leak — the conf is read
      // lazily at execution, after any try/finally restore)
      .config("spark.sql.cteRecursionRowLimit", "2000000000")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Static conf, default 100 entries: a multi-query driver program
      // (Verify/Bench run 219 registered queries in one JVM) thrashes
      // the generated-class cache, re-compiling and re-Class.forName-ing
      // identical WholeStageCodegen sources — thread-sampling the bench
      // showed Class.forName as a top executor frame. Scale-neutral:
      // sized to the registry, not to the host.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Below the threshold the bypass shuffle writer creates R temp
      // files per map task; with the engine's sized small-R exchanges
      // that is O(tasks·R) file creations per stage (top sampled frames:
      // FileOutputStream.open / writeMetadataFileAndCommit). The sort
      // writer buffers and writes ONE file per task. At cluster scale
      // sized exchanges exceed any such threshold, so the setting only
      // affects small-R stages.
      // Tradeoff (ADVICE r11): for genuinely tiny-R shuffles the sort/
      // serialized writer adds per-record buffering the bypass writer
      // avoids — full-bench A/B at 32 threads (r12) measured the sort
      // writer still ahead.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // Spark 4 gives every session an isolated artifact classloader;
      // with it on, EVERY task's closure deserialization routes
      // Class.forName through ExecutorClassLoader, and any name the
      // parent can't resolve (serialization-control-flow lookups) pays
      // a blocking RPC fetch against the driver's file server UNDER
      // the classloader lock — thread dumps of the r12 convoy show 32
      // task threads serialized behind that fetch
      // (executorDeserializeTime 30-220 s per graph_hits run). This
      // engine registers no session artifacts (no REPL, no Connect, no
      // addArtifact), so isolation buys nothing: off restores the
      // plain app-classloader chain whose misses fail fast and local.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(applyConf(s, _))
    s
  }

  /** `SPARK_GRAFT_CONF="k=v;k=v"`: runtime session confs for bench/scale
    * runs (e.g. the IVF cell count when measuring the K ∝ n contract at
    * 10×). A `spark.graft.*` key must be a declared knob
    * (`Knobs.requireDeclared`); Verify independently REFUSES to run with
    * any oracle-pinned knob set, so this cannot poison the hash gate.
    */
  private[graft] def applyConf(s: SparkSession, raw: String): Unit =
    raw.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty =>
          Knobs.requireDeclared(k.trim)
          s.conf.set(k.trim, v.trim)
        case _ => sys.error(s"SPARK_GRAFT_CONF entry not k=v: '$kv'")
      }
    }
}
