package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR
  * (default sf0.1) and prints ONE JSON line for the driver's BENCH_r{N}.
  *
  * Timing action is a noop-sink write (`format("noop")`), which fully
  * materializes every operator: under round 1's `.count()`, Catalyst's
  * EliminateSorts deleted the global sort being measured and column
  * pruning removed all scalar projections, so ~6 of 31 timings measured
  * nothing. The noop sink consumes every row of every column downstream
  * of the complete plan, with zero sink-side cost.
  *
  * Warm-up is a real parquet scan + shuffle over the bench data (not
  * `spark.range`), so the first measured query doesn't pay filesystem
  * metadata, parquet footer reads, or shuffle-machinery initialization.
  *
  * Failures are reported in an `errors` field (name → exception class),
  * never silently recorded as a timing.
  *
  * Contention diagnosability: wall time alone cannot distinguish a slow
  * plan from an oversubscribed host (the round-3 driver artifact was a
  * 2.2× outlier vs two reruns of identical code). So each query also
  * records, via a SparkListener over task-end events:
  *   - `cpu`  executor CPU seconds (sum over tasks)
  *   - `gc`   JVM GC seconds billed to tasks
  *   - `sr` / `sw` shuffle bytes read / written (MB)
  * plus process-wide `loadavg` samples at start/end. Reading the fields:
  * wall >> cpu/32 with low gc and unchanged shuffle bytes = external
  * load, not a plan regression; high gc = memory pressure; changed
  * shuffle bytes = an actual plan change. The six variance-prone banded
  * self-join queries additionally run SPARK_GRAFT_BENCH_REPS times
  * (default 3) and report the median wall, with all rep walls kept in
  * the metrics entry for adjudication.
  */
object Bench {

  /** Accumulates task-level metrics process-wide; per-query values are
    * deltas between snapshots. Listener delivery is async, so snapshots
    * are taken via [[drainedSnap]], which polls until the counters
    * stabilize (bounded wait) — wall timing is unaffected because the
    * wall clock is read before draining.
    */
  private final class TaskMetricsListener extends SparkListener {
    val cpuNs  = new AtomicLong
    val gcMs   = new AtomicLong
    val shufR  = new AtomicLong
    val shufW  = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufR.addAndGet(m.shuffleReadMetrics.remoteBytesRead
          + m.shuffleReadMetrics.localBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def snap: (Long, Long, Long, Long) =
      (cpuNs.get, gcMs.get, shufR.get, shufW.get)
    def drainedSnap(): (Long, Long, Long, Long) = {
      var prev = snap
      var stableFor = 0
      var waited = 0
      while (stableFor < 2 && waited < 1000) { // ≤1 s; typically ~50 ms
        Thread.sleep(25); waited += 25
        val cur = snap
        if (cur == prev) stableFor += 1 else { stableFor = 0; prev = cur }
      }
      prev
    }
  }

  /** Banded self-joins whose lazy-cache stage races made round-2/3 wall
    * times bounce up to 5× run-to-run; medianed to keep one unlucky
    * scheduling race from defining the round's artifact.
    */
  private val varianceProne = Set(
    "dedup_clusters", "dedup_minhash", "dedup_simhash",
    "dedup_ngram_jaccard", "sim_ann_lsh", "sim_ann_ivf")

  /** Any query whose FIRST wall reaches this many seconds is topped up
    * to the full rep count and reports the median (r12, VERDICT r11
    * item 2): the r11 driver artifact recorded graph_hits at 51.7 s
    * where the same binary measures 8-17 s steady — a single unlucky
    * first execution (32 concurrent tasks all running freshly
    * generated, not-yet-JITted code) defined the round. The fixed
    * varianceProne set predates most heavy queries; a wall threshold
    * covers whatever is heavy NOW without hand-maintaining a list.
    * All rep walls stay in the metrics entry for adjudication.
    */
  private val repWallThreshold = 3.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    // comma-separated allowlist for partial runs (e.g. the SCALE.md
    // corpus-family scaling curve, whose generated dir only carries
    // documents/embeddings); empty/absent = the full registry
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // a typo'd name must fail loudly, not silently drop that query from
    // the artifact (mirrors Verify's allowlist check)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in the registry: ${unknown.mkString(", ")}")
    }
    // Build fingerprint, stamped into every artifact: round 9's committed
    // idle baseline silently carried one row from an older build and
    // nothing could detect it (VERDICT r10). With the SHA (and a dirty
    // flag for uncommitted-source runs) in the artifact, bench_gate can
    // verify provenance instead of trusting file names. Read before any
    // artifact write so the artifacts themselves never flip the flag.
    val (gitSha, gitDirty) =
      try {
        import scala.sys.process._
        val sha = Seq("git", "rev-parse", "HEAD").!!.trim
        // dirty = uncommitted changes to BUILD INPUTS (source, build
        // config, tools) — driver boundary artifacts (BENCH_*.json etc.)
        // are always in flux at measurement time and don't taint the
        // binary being measured
        val dirty = Seq("git", "status", "--porcelain").!!.linesIterator
          .map(_.drop(3)).exists(f =>
            f.startsWith("src/") || f.startsWith("tools/") ||
              f.startsWith("project/") || f.startsWith("build.sbt"))
        (sha, dirty)
      } catch { case _: Exception => ("unknown", false) }
    val spark = GraftSession.get()
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    def loadAvg: Double =
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    val load0 = loadAvg

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // prime: parquet scan + shuffle + noop sink, not part of any timing
    // (corpus-only dirs from ScaleGen carry no lineitem — prime on
    // documents there; either way it's a real scan + shuffle)
    materialize(
      if (new java.io.File(s"$sfDir/lineitem.parquet").exists())
        Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count()
      else Tables.documents(spark, sfDir).groupBy("lang").count())
    // The r11 "operator shape" warm-up (untimed passes JIT-priming the
    // shared codegen fragments) is REMOVED (r12): its full-bench A/B at
    // one SHA, one boot — the measurement r11 promised and never
    // recorded — read 235.3 s WITH vs 231.4 s WITHOUT (225 queries,
    // per-query deltas ≤ 0.65 s both directions). After the artifact-
    // classloader fix and the iterative task diet the fragments it
    // primed no longer dominate any first run, the adaptive rep
    // top-up below already medians away first-execution storms, and
    // cold-first-run is the methodology every pre-r11 artifact used.
    // The JSON line keeps the methodology stamp (now constant "off")
    // so bench_gate can still annotate comparisons against r11's
    // shapes-v1 artifacts.

    final case class Rep(wall: Double, cpu: Double, gc: Double,
                         srMb: Double, swMb: Double)

    var errors = List.empty[(String, String)]
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      def runOnce(): Option[Rep] = {
        // isolate reps: release the previous run's staged cache so every
        // rep (and the next query) starts from a cold plan, and collect
        // the previous run's heap churn before the clock starts
        System.gc()
        val (c0, g0, r0, w0) = listener.drainedSnap()
        val t0 = System.nanoTime()
        val ok =
          // scoped: each rep starts from a cold plan (release even on error)
          try { Materialize.scoped(materialize(fn(spark, sfDir))); true }
          catch { case e: Throwable =>
            if (!errors.exists(_._1 == name))
              errors ::= (name -> e.getClass.getSimpleName)
            false
          }
        val wall = (System.nanoTime() - t0) / 1e9
        val (c1, g1, r1, w1) = listener.drainedSnap()
        if (ok) Some(Rep(wall, (c1 - c0) / 1e9, (g1 - g0) / 1e3,
          (r1 - r0) / 1e6, (w1 - w0) / 1e6))
        else None
      }
      val first = runOnce()
      // rep count decided AFTER the first wall is known: the static
      // varianceProne list keeps its always-rep contract, and any query
      // heavy enough to matter (first wall >= repWallThreshold) is
      // topped up to the full rep count so one unlucky scheduling race
      // can't define the artifact (see repWallThreshold above)
      val n =
        if (varianceProne(name) ||
          first.exists(_.wall >= repWallThreshold)) reps
        else 1
      val runs = first.toSeq ++ (2 to n).flatMap(_ => runOnce())
      // ANY failed rep poisons the query: a median over the surviving
      // reps would look trustworthy while the name also sits in errors.
      // -1 plus the errors entry is unambiguous.
      if (runs.size < n) name -> (Rep(-1.0, 0, 0, 0, 0), Seq.empty[Double])
      else {
        val sorted = runs.sortBy(_.wall)
        name -> (sorted(sorted.size / 2), runs.map(_.wall))
      }
    }
    // Round to ms so the JSON line stays small: the round-2 artifact was
    // truncated by the driver's finite output capture, losing the head of
    // one long full-precision line (total + first ~7 queries).
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def r2(v: Double): String =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, (m, _)) => "\"" + k + "\":" + r3(m.wall) }
      .mkString("{", ",", "}")
    val metrics = results.collect { case (k, (m, walls)) if m.wall >= 0 =>
      val base = s""""cpu":${r2(m.cpu)},"gc":${r2(m.gc)},"sr_mb":${r2(m.srMb)},"sw_mb":${r2(m.swMb)}"""
      // min-of-reps wall: the least-contended observation of the same
      // plan — what bench_gate adjudicates on when the rep spread says
      // the median is hostage to host contention (self-adjudicating
      // artifacts; no idle-host judge rerun needed)
      val w = if (walls.size > 1)
        s""","wall_min":${r3(walls.min)},"walls":[${walls.map(r3).mkString(",")}]"""
      else ""
      "\"" + k + "\":{" + base + w + "}"
    }.mkString("{", ",", "}")
    val errs = errors.reverse.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val good = results.map(_._2._1.wall).filter(_ >= 0)
    val total = if (good.nonEmpty) good.sum else 0.0
    // methodology stamp (ADVICE r11): warm-up variant + adaptive-rep
    // threshold, so bench_gate can refuse or annotate cross-methodology
    // comparisons the same way it refuses cross-SHA rows
    val methodology =
      s""""warmup":"off","rep_wall_sec":${r2(repWallThreshold)}"""
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"errors":$errs,""" +
        s""""metrics":$metrics,"loadavg":[${r2(load0)},${r2(loadAvg)}],""" +
        s""""host_cpus":${Runtime.getRuntime.availableProcessors},"reps":$reps,$methodology,""" +
        s""""git_sha":"$gitSha","git_dirty":$gitDirty,"sf":"$sfDir"}"""
    // Survive any finite head/tail output capture: persist the full JSON
    // to a file, print it once up front, and re-print it as the very last
    // line of the process (after spark.stop(), so no shutdown log noise
    // can land between it and EOF and eat the capture budget).
    // BENCH_FULL.json is the committed adjudication baseline — a
    // SPARK_GRAFT_BENCH_ONLY-filtered run must never overwrite it with a
    // partial measurement, so filtered runs land in BENCH_PARTIAL.json.
    // derived from the PARSED allowlist (not the raw env var) so this
    // gate can never disagree with what actually ran: an allowlist that
    // parses to nothing runs the full registry and must record as FULL
    val artifact =
      if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_FULL.json"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(artifact),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
    println(line)
    // Marker-prefixed copy as the VERY last stdout line: the driver's
    // parser missed the bare JSON line two rounds running (sbt log
    // framing interleaved with it); a unique prefix makes it greppable
    // regardless of surrounding log noise. The bare line above is kept
    // for any parser that expects the line to be pure JSON.
    println("GRAFT_BENCH " + line)
    // The full line is ~15 KB and the driver keeps only a ~2000-char tail
    // of the output, which truncates the marker off the front (BENCH_r0{6,7,8}
    // all recorded parsed:null). A second, ≤200-char summary as the true
    // last line guarantees any finite tail capture still gets the headline
    // numbers even when the full marker is cut. (build.sbt suppresses
    // sbt's own trailing "[success]" line — round 9's tail showed it
    // printing AFTER this marker and displacing a last-line parse.)
    val summary =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","query_count":${results.size},""" +
        s""""errors":${errors.size},"git_sha":"$gitSha","git_dirty":$gitDirty,"sf":"$sfDir"}"""
    // parser-independent sibling artifact: the headline numbers land on
    // disk even if every stdout capture window misses the marker
    if (only.isEmpty)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_SUMMARY.json"),
        (summary + "\n").getBytes("UTF-8"))
    println("GRAFT_BENCH_SUMMARY " + summary)
  }
}
