package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.{EventsPipeline, Ingest}
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

/** End-to-end pipeline semantics: ingest → schema'd CSV read → watermark
  * filter → guarded partitioned append → archival. The key property is
  * the reference's one (SURVEY §5): a re-run appends nothing.
  */
class PipelineSpec extends SparkSpec {

  private def writeCsv(dir: String, name: String, rows: Seq[String]): Unit = {
    val header = "event_id,ts_us,user_id,event_type,value"
    Files.write(Paths.get(dir, name), (header +: rows).mkString("\n").getBytes("UTF-8"))
  }

  test("ingest stages files with verified sha256 manifest") {
    val src = scratchDir("pipe_src")
    val landing = scratchDir("pipe_landing")
    writeCsv(src, "a.csv", Seq("1,1000000,10,click,1.5"))
    val conf = spark.sparkContext.hadoopConfiguration
    val staged = Ingest.ingest(conf, src, landing)
    assert(staged.map(_.name) === Seq("a.csv"))
    // checksum matches an independent local computation
    val bytes = Files.readAllBytes(Paths.get(landing, "a.csv"))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expect = md.digest(bytes).map("%02x".format(_)).mkString
    assert(staged.head.sha256 === expect)
    // source file moved, manifest written
    assert(!Files.exists(Paths.get(src, "a.csv")))
    assert(Files.exists(Paths.get(landing, "_manifest.csv")))
  }

  test("run → append → re-run appends zero (watermark idempotence)") {
    val landing = scratchDir("pipe_l1")
    val sink    = scratchDir("pipe_s1") + "/sink"
    val archive = scratchDir("pipe_a1")

    writeCsv(landing, "batch1.csv", Seq(
      "1,86400000000,10,click,1.0",   // 1970-01-02
      "2,172800000000,11,view,2.0"))  // 1970-01-03
    val r1 = EventsPipeline.run(spark, landing, sink, archive, "2026-08-12")
    assert(r1.rowsRead === 2 && r1.rowsAppended === 2 && r1.filesArchived === 1)
    assert(Files.exists(Paths.get(archive, "2026-08-12", "batch1.csv")))

    // batch 2: one stale row (ts <= watermark) + one fresh row
    writeCsv(landing, "batch2.csv", Seq(
      "3,100000000000,12,click,3.0",  // stale: before max ts
      "4,259200000000,13,view,4.0"))  // fresh: 1970-01-04
    val r2 = EventsPipeline.run(spark, landing, sink, archive, "2026-08-13")
    assert(r2.rowsRead === 2 && r2.rowsAppended === 1)

    // re-run with a byte-identical copy of batch2: nothing appends
    writeCsv(landing, "batch2_again.csv", Seq(
      "3,100000000000,12,click,3.0",
      "4,259200000000,13,view,4.0"))
    val r3 = EventsPipeline.run(spark, landing, sink, archive, "2026-08-14")
    assert(r3.rowsAppended === 0, "watermark must reject replayed rows")

    // sink layout: partitioned by event_date, 3 dates
    val out = spark.read.parquet(sink)
    assert(out.count() === 3)
    assert(out.select("event_date").distinct().count() === 3)
  }

  test("a sink directory that exists but holds no data file is an empty sink") {
    // created ahead of the first run: empty, with a commit marker, or with
    // a file still being copied in (names Spark's file index skips)
    Seq(None, Some("_SUCCESS"), Some("part-00000.parquet._COPYING_"))
      .zipWithIndex.foreach { case (marker, i) =>
        val landing = scratchDir(s"pipe_l_empty$i")
        val sink    = scratchDir(s"pipe_s_empty$i") + "/sink"
        val archive = scratchDir(s"pipe_a_empty$i")
        Files.createDirectories(Paths.get(sink))
        marker.foreach(m => Files.write(Paths.get(sink, m), Array.emptyByteArray))
        writeCsv(landing, "batch1.csv", Seq(
          "1,86400000000,10,click,1.0",
          "2,172800000000,11,view,2.0"))
        val r = EventsPipeline.run(spark, landing, sink, archive, "2026-08-12")
        assert(r.rowsRead === 2 && r.rowsAppended === 2 && r.filesArchived === 1, marker)
        assert(spark.read.parquet(sink).count() === 2, marker)
      }
  }

  test("PERMISSIVE drops corrupt rows; FAILFAST throws") {
    val landing = scratchDir("pipe_l2")
    val sink    = scratchDir("pipe_s2") + "/sink"
    val archive = scratchDir("pipe_a2")
    writeCsv(landing, "bad.csv", Seq(
      "1,86400000000,10,click,1.0",
      "not,a,valid,row,with,extra,columns"))

    intercept[SparkException] {
      EventsPipeline.run(spark, landing, sink, archive, "2026-08-12",
        failFast = true)
    }

    // landing untouched by the failed run (archival never reached)
    assert(Files.exists(Paths.get(landing, "bad.csv")))

    val r = EventsPipeline.run(spark, landing, sink, archive, "2026-08-12",
      failFast = false)
    assert(r.rowsAppended === 1, "corrupt row dropped, valid row kept")
    assert(r.rowsRead === 1 && r.corruptRows === 1,
      "the dropped corrupt row must be accounted, not silently lost")
  }

  test("run on an empty landing dir returns a zero report (steady state)") {
    val landing = scratchDir("pipe_empty")
    val r = EventsPipeline.run(spark, landing,
      scratchDir("pipe_empty_s") + "/sink", scratchDir("pipe_empty_a"), "2026-08-12")
    assert(r.rowsRead === 0 && r.rowsAppended === 0 && r.filesArchived === 0)
  }

  test("pipeline runs unchanged on a non-default FileSystem scheme (graftfs:)") {
    // every pipeline path resolves its FileSystem from the path URI; a
    // second registered scheme must work with ONLY the paths changing
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    def g(p: String) = s"graftfs:$p"

    val src     = scratchDir("pipe_fs_src")
    val landing = scratchDir("pipe_fs_l")
    val sink    = scratchDir("pipe_fs_s") + "/sink"
    val archive = scratchDir("pipe_fs_a")
    writeCsv(src, "b.csv", Seq("1,86400000000,10,click,1.0"))

    // S4/S5 ingest over the scheme: move + checksum + manifest
    val staged = Ingest.ingest(conf, g(src), g(landing))
    assert(staged.map(_.name) === Seq("b.csv"))
    assert(Files.exists(Paths.get(landing, "_manifest.csv")))

    // full run over the scheme: read → watermark → append → archive
    val r = EventsPipeline.run(spark, g(landing), g(sink), g(archive), "2026-08-12")
    assert(r.rowsRead === 1 && r.rowsAppended === 1 && r.filesArchived === 1)
    assert(spark.read.parquet(g(sink)).count() === 1)
    // and the artifacts are real local files underneath
    assert(Files.exists(Paths.get(archive, "2026-08-12", "b.csv")))
  }

  test("archival stays exactly-once when rename is S3A-style copy+delete") {
    // object-store rename is copy-then-delete, not atomic; the happy path
    // must behave identically to a posix rename
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    def g(p: String) = s"graftfs:$p"
    val landing = scratchDir("pipe_s3_l")
    val sink    = scratchDir("pipe_s3_s") + "/sink"
    val archive = scratchDir("pipe_s3_a")
    writeCsv(landing, "c.csv", Seq("1,86400000000,10,click,1.0"))
    GraftTestFileSystem.renameIsCopyDelete = true
    try {
      val r = EventsPipeline.run(spark, g(landing), g(sink), g(archive), "2026-08-12")
      assert(r.rowsAppended === 1 && r.filesArchived === 1)
      assert(Files.exists(Paths.get(archive, "2026-08-12", "c.csv")))
      assert(!Files.exists(Paths.get(landing, "c.csv")))
    } finally GraftTestFileSystem.renameIsCopyDelete = false
  }

  test("archival converges after a crash inside the copy+delete window") {
    // the S3A hazard: a crash between the copy and the delete leaves the
    // file at BOTH paths. The retry must (a) append no duplicate rows —
    // the watermark's job — and (b) finish the orphaned delete half
    // instead of failing on the already-present archive copy.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    def g(p: String) = s"graftfs:$p"
    val landing = scratchDir("pipe_crash_l")
    val sink    = scratchDir("pipe_crash_s") + "/sink"
    val archive = scratchDir("pipe_crash_a")
    writeCsv(landing, "d.csv", Seq(
      "1,86400000000,10,click,1.0",
      "2,172800000000,11,view,2.0"))
    GraftTestFileSystem.renameIsCopyDelete = true
    try {
      // scope the crash to the archival rename (Spark's committer also
      // renames on this scheme while writing the sink)
      GraftTestFileSystem.crashAfterCopyWhenDstContains = Some("pipe_crash_a")
      intercept[java.io.IOException] {
        EventsPipeline.run(spark, g(landing), g(sink), g(archive), "2026-08-12")
      }
      // crash window: sink write committed, file present at BOTH paths
      assert(spark.read.parquet(g(sink)).count() === 2)
      assert(Files.exists(Paths.get(landing, "d.csv")))
      assert(Files.exists(Paths.get(archive, "2026-08-12", "d.csv")))

      // retry of the same run date: exactly-once on rows AND on files
      val r = EventsPipeline.run(spark, g(landing), g(sink), g(archive), "2026-08-12")
      assert(r.rowsAppended === 0, "watermark must reject the replayed file's rows")
      assert(r.filesArchived === 1, "retry must account the recovered file")
      assert(spark.read.parquet(g(sink)).count() === 2, "no duplicate rows after retry")
      assert(!Files.exists(Paths.get(landing, "d.csv")), "landing drained")
      assert(Files.exists(Paths.get(archive, "2026-08-12", "d.csv")))
    } finally {
      GraftTestFileSystem.renameIsCopyDelete = false
      GraftTestFileSystem.crashAfterCopyWhenDstContains = None
    }
  }

  test("a same-named file RE-DELIVERED under one run date keeps both raw copies") {
    // dst-exists is usually a crashed rename's surviving copy (equal
    // bytes => finish the delete half), but a re-delivered file carries
    // DIFFERENT bytes — deleting it would lose the only raw copy. The
    // length check must divert it to a uniquely-suffixed archive name.
    val landing = scratchDir("pipe_redeliver_l")
    val sink    = scratchDir("pipe_redeliver_s") + "/sink"
    val archive = scratchDir("pipe_redeliver_a")
    writeCsv(landing, "e.csv", Seq("1,86400000000,10,click,1.0"))
    val r1 = EventsPipeline.run(spark, landing, sink, archive, "2026-08-12")
    assert(r1.filesArchived === 1)

    // same name, same run date, different (longer) content
    writeCsv(landing, "e.csv", Seq(
      "2,172800000000,11,view,2.0",
      "3,259200000000,12,click,3.0"))
    val r2 = EventsPipeline.run(spark, landing, sink, archive, "2026-08-12")
    assert(r2.rowsAppended === 2)
    assert(r2.filesArchived === 1)
    assert(!Files.exists(Paths.get(landing, "e.csv")), "landing drained")
    // BOTH raw copies retained: the original and the re-delivery
    assert(Files.exists(Paths.get(archive, "2026-08-12", "e.csv")))
    assert(Files.exists(Paths.get(archive, "2026-08-12", "e.csv.redelivered1")))
    assert(spark.read.parquet(sink).count() === 3)
  }

  test("typed() casts strings and nulls unparseable values (P1 semantics)") {
    import spark.implicits._
    val df = Seq(
      ("1", "1000", "7", "click", "1.25"),
      ("x", "bad", "y", "view", "zz"))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val t = EventsPipeline.typed(df).collect()
    assert(t(0).getAs[Long]("event_id") === 1L)
    assert(t(0).getAs[Double]("value") === 1.25)
    assert(t(1).isNullAt(t(1).fieldIndex("event_id")))
    assert(t(1).isNullAt(t(1).fieldIndex("ts")))
    assert(t(1).isNullAt(t(1).fieldIndex("value")))
  }
}
