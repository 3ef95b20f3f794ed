package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Materialize, SparkEntry}
import graft.pipeline.EventsPipeline
import graft.streaming.StreamingPipeline

/** Runs one benchmark workload in this JVM and writes its raw record.
  *
  * Usage: Main <spec.json> <out.json>
  *
  * The spec (written by `run.py`) names the workload, its inputs and the
  * seeded operation list. This program only executes and measures: one
  * client thread, closed loop, each operation started after the previous
  * one returned. Every output is consumed through [[DigestSink]]; the
  * digests, pipeline reports and timings are written out for `run.py`
  * to check and aggregate.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Columns of the events sinks, in digest order (see `gen.py`). */
  val EventCols: Seq[String] = Seq("event_id", "ts", "user_id", "event_type", "value")

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val out = new Main(spec).run()
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(out))
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  def secs(ns: Long): Double = ns / 1e9
}

final class Main(spec: JsonNode) {
  import Main._

  private val workload = spec.get("workload").asText
  private val dataDir = spec.get("data_dir").asText
  private val workDir = spec.get("work_dir").asText
  private val trace = new Trace(spec.get("trace").asBoolean)
  private val listener = if (trace.enabled) Some(new ExecListener) else None
  private val ops = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private var spark: SparkSession = _
  /** Time inside the window spent on work the window does not measure:
    * landing the ETL batches and walking the sink for layout facts. */
  private var untimedNs = 0L

  private def untimed[T](body: => T): T = {
    val t0 = Trace.now()
    try body finally untimedNs += Trace.now() - t0
  }

  /** Builds the session and warms it up, timed from the start of
    * `run.py`'s process: the set-up covers input generation, JVM start,
    * `GraftSession.get` and the warm-up pass that the spec names (see
    * `run.py`), so that the window's first operation does not pay the
    * JVM's warm-up for all the others.
    */
  private def setUp(): Map[String, Double] = {
    val s0 = Trace.now()
    spark = GraftSession.get()
    val s1 = Trace.now()
    warmUp()
    val t1 = Trace.now()
    Map("total_s" -> secs(t1 - spec.get("setup_t0_ns").asLong), "session_s" -> secs(s1 - s0),
      "warmup_s" -> secs(t1 - s1))
  }

  /** Runs the warm-up operations through the same code as the window and
    * drops their records; any failure fails the run. */
  private def warmUp(): Unit = {
    val first = ops.size
    val queries = spec.get("warmup_queries").elements().asScala.map(_.asText).toSeq
    if (queries.nonEmpty) runQueries(queries)
    Option(spec.get("warmup_batches")).foreach(b => runEtl(b, new File(workDir, "warmup")))
    ops.drop(first).find(_.contains("error")).foreach(o =>
      sys.error(s"warm-up ${o("name")} failed: ${o("error")}"))
    ops.remove(first, ops.size - first)
  }

  def run(): Map[String, Any] = {
    val setup = setUp()
    trace.spans.clear() // the warm-up's
    listener.foreach(spark.sparkContext.addSparkListener)
    trace.bind(spark.sparkContext)
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs()
    untimedNs = 0L
    val w0 = Trace.now()
    trace.span("run") {
      if (workload == "etl_incremental") runEtl(spec.get("batches"), new File(workDir))
      else runQueries(spec.get("queries").elements().asScala.map(_.asText).toSeq)
    }
    val w1 = Trace.now()
    val gcS = (gcMs() - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val checks = if (workload == "etl_incremental") etlChecks() else Map.empty[String, Any]
    listener.foreach(_.drain())
    val result = Map[String, Any](
      "setup" -> setup,
      "window_s" -> secs(w1 - w0 - untimedNs),
      "ops" -> ops.map(_.toMap),
      "checks" -> checks,
      "jvm" -> Map("peak_rss_mb" -> peakRssMb(), "jit_s" -> jitS, "gc_s" -> gcS,
        "heap_used_peak_mb" -> heapPeakMb,
        "cpus" -> spark.sparkContext.defaultParallelism),
      "spans" -> trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)),
      "jobs" -> listener.fold(Seq.empty[Map[String, Any]])(_.jobList.map(j => Map(
        "id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs))),
      "stages" -> listener.fold(Seq.empty[Map[String, Any]])(_.stageList.map(s => Map(
        "id" -> s.id, "attempt" -> s.attempt, "job" -> s.job, "name" -> s.name,
        "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs,
        "tasks" -> s.tasks, "useful_tasks" -> s.usefulTasks,
        "sched_wait_ms" -> s.schedWaitMs, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "deser_ms" -> s.deserMs, "gc_ms" -> s.gcMs,
        "shuffle_read_b" -> s.shuffleReadB, "shuffle_write_b" -> s.shuffleWriteB,
        "spill_b" -> s.spillB, "input_b" -> s.inputB,
        "output_records" -> s.outputRecords))))
    spark.stop()
    result
  }

  /** One timed operation: an `operation` span around `body`, whose
    * wall, outcome and any fields `body` records land in the op list.
    */
  private def op(name: String, kind: String)(body: mutable.Map[String, Any] => Unit): Unit = {
    val rec = mutable.Map[String, Any]("name" -> name, "kind" -> kind)
    val t0 = Trace.now()
    try trace.span("operation") {
      rec("span") = trace.spans.lastOption.fold(0L)(_.id)
      body(rec)
    }
    catch { case e: Throwable =>
      rec("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    rec("wall_s") = secs(Trace.now() - t0)
    ops += rec
  }

  private def digest(rec: mutable.Map[String, Any], d: Digest): Unit = {
    rec("count") = d.count
    rec("hash") = d.hash.toString
  }

  private def sampleCache(rec: mutable.Map[String, Any]): Unit =
    if (trace.enabled) {
      val sc = spark.sparkContext
      rec("cached_mb") = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      rec("cached_rdds") = sc.getPersistentRDDs.size
    }

  private def runQueries(names: Seq[String]): Unit = {
    val registry = SparkEntry.queries
    names.foreach { name =>
      op(name, "query") { rec =>
        var bodyEnd = 0L
        Materialize.scoped {
          val df = trace.span("ops.construct")(registry(name)(spark, dataDir))
          digest(rec, trace.span("exec.action")(DigestSink.write(df)))
          sampleCache(rec)
          bodyEnd = Trace.now()
        }
        if (trace.enabled) trace.record("Materialize.release", bodyEnd, Trace.now())
      }
    }
  }

  private def etlDirs(root: File) = {
    val d = (n: String) => new File(root, n).getAbsolutePath
    (d("landing"), d("sink"), d("archive"), d("stream_landing"), d("stream_sink"),
      d("stream_checkpoint"))
  }

  private def sinkFiles(dir: String): Seq[File] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
  }

  private def events(dir: String): DataFrame =
    spark.read.parquet(dir).select(EventCols.map(col): _*)

  /** Lands each batch and runs the batch pipeline, the streaming ingest
    * and the three reads on it, with sinks and checkpoints under `root`. */
  private def runEtl(batches: JsonNode, root: File): Unit = {
    val (landing, sink, archive, streamLanding, streamSink, ckpt) = etlDirs(root)
    Seq(landing, streamLanding).foreach(new File(_).mkdirs())
    batches.elements().asScala.zipWithIndex.foreach { case (b, k) =>
      // landing is the generator's job and is not timed
      val (landedBytes, before) = untimed {
        val files = new File(b.get("dir").asText).listFiles().filter(_.getName.endsWith(".csv"))
        files.foreach { f =>
          Files.copy(f.toPath, Paths.get(landing, f.getName), StandardCopyOption.REPLACE_EXISTING)
          Files.copy(f.toPath, Paths.get(streamLanding, f.getName), StandardCopyOption.REPLACE_EXISTING)
        }
        (files.map(_.length).sum, sinkFiles(sink).size)
      }
      op(s"run_$k", "etl_run") { rec =>
        val r = trace.span("pipeline.run")(
          EventsPipeline.run(spark, landing, sink, archive, runDate = f"d$k%03d"))
        rec("report") = Map("rowsRead" -> r.rowsRead, "rowsAppended" -> r.rowsAppended,
          "filesArchived" -> r.filesArchived, "corruptRows" -> r.corruptRows)
      }
      val after = untimed(sinkFiles(sink))
      ops.last ++= Seq("landed_bytes" -> landedBytes, "files_written" -> (after.size - before),
        "sink_files" -> after.size, "sink_bytes" -> after.map(_.length).sum)

      op(s"stream_$k", "stream") { rec =>
        val q = trace.span("streaming.batch") {
          val q = StreamingPipeline.runIngest(spark, streamLanding, streamSink, ckpt)
          q.awaitTermination()
          q
        }
        val ps = q.recentProgress.toSeq
        def ms(key: String) = ps.map(p => Option(p.durationMs.get(key)).fold(0L)(_.longValue)).sum
        rec("progress") = Map("rows" -> ps.map(_.numInputRows).sum,
          "trigger_ms" -> ms("triggerExecution"), "planning_ms" -> ms("queryPlanning"),
          "wal_commit_ms" -> ms("walCommit"), "add_batch_ms" -> ms("addBatch"),
          "latest_offset_ms" -> ms("latestOffset"))
      }

      Seq(
        "oldest" -> ((df: DataFrame) => df.orderBy(col("ts"), col("event_id")).limit(200)),
        "newest" -> ((df: DataFrame) => df.orderBy(col("ts").desc, col("event_id").desc).limit(200)),
        "sorted" -> ((df: DataFrame) => df.orderBy(col("ts"), col("event_id")))
      ).foreach { case (name, shape) =>
        op(s"read_${name}_$k", "read") { rec =>
          digest(rec, trace.span("read")(DigestSink.write(shape(events(sink)))))
        }
        ops.last("input_files") = untimed(sinkFiles(sink).size)
      }
    }
  }

  /** Untimed end-of-run checks: the streaming sink's full content. */
  private def etlChecks(): Map[String, Any] = {
    val (_, _, _, _, streamSink, _) = etlDirs(new File(workDir))
    val d = DigestSink.write(events(streamSink))
    Map("stream_sink" -> Map("count" -> d.count, "hash" -> d.hash.toString))
  }
}
