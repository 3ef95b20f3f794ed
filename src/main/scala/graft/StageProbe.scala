package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-STAGE attribution for registry queries: runs each query under the
  * bench's noop-sink action and prints every completed stage's wall,
  * task run time, CPU, GC, shuffle bytes, spill and record counts, sorted
  * by CPU — the local-mode stand-in for the Spark UI's stage table
  * (spark.ui is disabled in GraftSession), and the breakdown `Bench`'s
  * per-query totals can't show. Measurement tooling only; not part of the
  * driver contract.
  *
  * Usage: runMain graft.StageProbe <sfDir> <query> [query ...] [reps]
  * (a trailing integer is the rep count per query, default 1)
  */
object StageProbe {

  private final case class StageRow(id: Int, name: String, tasks: Int,
      wallMs: Long, runMs: Long, cpuMs: Long, gcMs: Long,
      inRec: Long, outRec: Long, srMb: Double, swMb: Double,
      spillMb: Double, deserCpuMs: Long, deserMs: Long)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: StageProbe <sfDir> <query> [query ...] [reps]")
    val sfDir = args(0)
    val (names, reps) = args.drop(1).toSeq match {
      case ns :+ r if ns.nonEmpty && r.toIntOption.isDefined => (ns, r.toInt)
      case ns => (ns, 1)
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    val spark = GraftSession.get()
    val rows = mutable.ArrayBuffer.empty[StageRow]
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        if (m != null) rows.synchronized {
          rows += StageRow(si.stageId, si.name, si.numTasks,
            si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
            m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
            m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten,
            (m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead) / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
            m.executorDeserializeCpuTime / 1000000,
            m.executorDeserializeTime)
        }
      }
    })
    // warm-up, as in Bench
    (if (new java.io.File(s"$sfDir/lineitem.parquet").exists())
       Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count()
     else Tables.documents(spark, sfDir).groupBy("lang").count())
      .write.format("noop").mode("overwrite").save()
    for (name <- names; r <- 1 to reps) {
      rows.synchronized(rows.clear())
      jobs.set(0)
      System.gc()
      val t0 = System.nanoTime()
      Materialize.scoped {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let stage-completed events drain
      val snap = rows.synchronized(rows.toVector)
      println(f"== STAGEPROBE $name rep $r wall=$wall%.2fs jobs=${jobs.get} stages=${snap.size} " +
        f"cpuSum=${snap.map(_.cpuMs).sum / 1e3}%.1fs " +
        f"deserCpuSum=${snap.map(_.deserCpuMs).sum / 1e3}%.1fs " +
        f"deserWallSum=${snap.map(_.deserMs).sum / 1e3}%.1fs ==")
      snap.sortBy(-_.cpuMs).take(40).foreach { s =>
        val nm = s.name.replaceAll("\\s+", " ").take(90)
        println(f"stage=${s.id}%4d run=${s.runMs / 1e3}%7.2fs cpu=${s.cpuMs / 1e3}%7.2fs deserCpu=${s.deserCpuMs / 1e3}%7.2fs deserW=${s.deserMs / 1e3}%7.2fs wall=${s.wallMs / 1e3}%6.2fs gc=${s.gcMs / 1e3}%5.1fs tasks=${s.tasks}%4d " +
          f"in=${s.inRec}%10d sr=${s.srMb}%8.1fMB sw=${s.swMb}%8.1fMB spill=${s.spillMb}%8.1fMB $nm")
      }
    }
    spark.stop()
  }
}
