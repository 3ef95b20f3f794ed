package graft

import java.nio.file.{Files, Paths}

import graft.streaming.{CusumAlert, StreamingPipeline}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics: checkpointed exactly-once ingest (replacing the
  * batch watermark), watermarked windowed aggregation, streaming dedup.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(dir: String, name: String, rows: Seq[String]): Unit = {
    val header = "event_id,ts_us,user_id,event_type,value"
    Files.write(Paths.get(dir, name),
      (header +: rows).mkString("\n").getBytes("UTF-8"))
  }

  test("checkpointed ingest is exactly-once across restarts") {
    val landing = scratchDir("st_landing")
    val sink = scratchDir("st_sink") + "/out"
    val ckpt = scratchDir("st_ckpt") + "/cp"

    writeCsv(landing, "b1.csv", Seq("1,86400000000,10,click,1.0"))
    StreamingPipeline.runIngest(spark, landing, sink, ckpt).awaitTermination()
    assert(spark.read.parquet(sink).count() === 1)

    // restart with the SAME file present plus one new file: only the new
    // file is processed (checkpoint source tracking = the watermark's job)
    writeCsv(landing, "b2.csv", Seq("2,172800000000,11,view,2.0"))
    StreamingPipeline.runIngest(spark, landing, sink, ckpt).awaitTermination()
    val out = spark.read.parquet(sink)
    assert(out.count() === 2)
    assert(out.select("event_id").as[Long].collect().sorted === Array(1L, 2L))
  }

  test("windowed counts aggregate by event-time hour") {
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val typed = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"),
        $"user_id", $"event_type", $"value")
    val q = StreamingPipeline.windowedCounts(typed)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      val h = 3_600_000_000L // 1h in µs
      mem.addData(
        (1L, 0L, 1L, "click", 1.0),
        (2L, h / 2, 1L, "click", 2.0), // same hour
        (3L, h + 1, 2L, "view", 3.0))  // next hour
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select($"event_type", $"n").as[(String, Long)].collect().toMap
      assert(rows("click") === 2L)
      assert(rows("view") === 1L)
    } finally q.stop()
  }

  test("stateful sessionization closes a session when the gap exceeds 30min") {
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    // same typed schema the pipeline produces (ts as timestamp)
    val typed = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"),
        $"user_id", $"event_type", $"value")
    val q = StreamingPipeline.sessionized(typed)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      val min = 60L * 1000000L
      val t0  = 86400L * 1000000L // clear of the epoch-0 initial watermark
      // user 1: three events in one session, then a 45-min gap opens a new
      // session — the first session closes and is emitted
      mem.addData(
        (1L, t0, 1L, "click", 1.0),
        (2L, t0 + 5 * min, 1L, "view", 1.0),
        (3L, t0 + 10 * min, 1L, "click", 1.0))
      q.processAllAvailable()
      mem.addData((4L, t0 + 55 * min, 1L, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select($"user_id", $"start_us", $"end_us", $"n_events")
        .as[(Long, Long, Long, Long)].collect()
      assert(rows.toSet === Set((1L, t0, t0 + 10 * min, 3L)))
    } finally q.stop()
  }

  test("an idle user's trailing session is flushed by the event-time timeout") {
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val typed = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"),
        $"user_id", $"event_type", $"value")
    val q = StreamingPipeline.sessionized(typed)
      .writeStream.format("memory").queryName("idle_sessions")
      .outputMode("append").start()
    try {
      val min = 60L * 1000000L
      val t0  = 86400L * 1000000L // clear of the epoch-0 initial watermark
      // user 1 goes idle after two events; no successor event EVER
      mem.addData((1L, t0, 1L, "click", 1.0), (2L, t0 + 5 * min, 1L, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("idle_sessions").isEmpty,
        "session still open inside gap+watermark: nothing to emit yet")
      // another USER's traffic advances the watermark (3h - 1h wm = 2h)
      // past user 1's lastUs + 30min gap => the timeout arm must emit
      // user 1's session and evict the state, even though user 1 never
      // sends another event
      mem.addData((3L, t0 + 180 * min, 2L, "click", 1.0))
      q.processAllAvailable()
      mem.addData((4L, t0 + 181 * min, 2L, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("idle_sessions")
        .select($"user_id", $"start_us", $"end_us", $"n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === Set((1L, t0, t0 + 5 * min, 2L)))
      // the flush is once-only: more foreign traffic must not re-emit
      mem.addData((5L, t0 + 182 * min, 2L, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("idle_sessions").count() === 1)
    } finally q.stop()
  }

  test("streaming sessions agree with the batch win_sessionize split") {
    // deterministic multi-user event set with within-gap and over-gap
    // steps; a far-future sentinel user advances the watermark so every
    // real session flushes, then the streamed sessions must equal the
    // sessions derived from the batch win_sessionize recipe (lag + gap
    // flag + running sum) over the same rows
    val mu = 60L * 1000000L
    val t0 = 86400L * 1000000L // clear of the epoch-0 initial watermark
    val events = Seq(
      (1L, 0L), (1L, 10 * mu), (1L, 20 * mu),     // u1 session A
      (1L, 60 * mu), (1L, 65 * mu),               // u1 session B (40min gap)
      (2L, 5 * mu), (2L, 50 * mu), (2L, 70 * mu), // u2: A | B (45min gap, 20min ok)
      (3L, 15 * mu)                               // u3 single-event session
    ).zipWithIndex.map { case ((u, ts), i) => (i.toLong + 1, t0 + ts, u) }
    val sentinel = (99L, t0 + 2000 * mu, 999L)

    val mem = MemoryStream[(Long, Long, Long)](spark)
    val typed = mem.toDF().toDF("event_id", "ts_us", "user_id")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id")
    val q = StreamingPipeline.sessionized(typed)
      .writeStream.format("memory").queryName("parity_sessions")
      .outputMode("append").start()
    try {
      events.grouped(3).foreach { batch =>
        mem.addData(batch.map(e => (e._1, e._2, e._3)): _*)
        q.processAllAvailable()
      }
      mem.addData(sentinel); q.processAllAvailable()
      mem.addData((100L, t0 + 2001 * mu, 999L)); q.processAllAvailable()
      val streamed = spark.table("parity_sessions")
        .filter($"user_id" =!= 999L)
        .select($"user_id", $"start_us", $"end_us", $"n_events")
        .as[(Long, Long, Long, Long)].collect().toSet

      // batch sibling: the exact win_sessionize recipe, aggregated to
      // (user, session) summaries
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy($"user_id")
        .orderBy($"ts_us".asc, $"event_id".asc)
      val gapUs = 30L * 60 * 1000000
      val batchSessions = events.toDF("event_id", "ts_us", "user_id")
        .withColumn("prev_ts", lag($"ts_us", 1).over(wOrd))
        .withColumn("new_session",
          when($"prev_ts".isNull || $"ts_us" - $"prev_ts" > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum($"new_session").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"session_seq")
        .agg(min($"ts_us").as("start_us"), max($"ts_us").as("end_us"),
          count(lit(1)).as("n_events"))
        .select($"user_id", $"start_us", $"end_us", $"n_events")
        .as[(Long, Long, Long, Long)].collect().toSet

      assert(streamed === batchSessions)
    } finally q.stop()
  }

  test("streaming dedup collapses replayed event_ids") {
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val typed = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"),
        $"user_id", $"event_type", $"value")
    val q = StreamingPipeline.deduped(typed)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, 1000L, 1L, "click", 1.0),
        (1L, 1000L, 1L, "click", 1.0), // exact replay
        (2L, 2000L, 1L, "view", 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() === 2)
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks to recent views only") {
    val clicks = MemoryStream[(Long, Long, Long)](spark)
    val views  = MemoryStream[(Long, Long, Long)](spark)
    def typed(m: MemoryStream[(Long, Long, Long)]) =
      m.toDF().toDF("event_id", "ts_us", "user_id")
        .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id")
    val q = StreamingPipeline.intervalJoined(typed(clicks), typed(views))
      .writeStream.format("memory").queryName("clickview")
      .outputMode("append").start()
    try {
      val mu = 60L * 1000000L
      // base is one day past the epoch: rows AT epoch 0 would sit at
      // Spark's initial watermark and be dropped as late on entry to
      // the join state
      val t0 = 86400L * 1000000L
      views.addData((100L, t0, 1L), (101L, t0, 2L))
      // view arrives in an EARLIER micro-batch than the click: the join
      // state must hold it until the click side catches up
      q.processAllAvailable()
      clicks.addData(
        (200L, t0 + 10 * mu, 1L),  // 10 min after view 100 → match
        (201L, t0 + 50 * mu, 1L),  // 50 min after → outside the 30-min gap
        (202L, t0 + 5 * mu, 3L))   // user with no view → no match
      q.processAllAvailable()
      val rows = spark.table("clickview")
        .select($"click_id", $"view_id").as[(Long, Long)].collect().toSet
      assert(rows === Set((200L, 100L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits unmatched clicks on watermark") {
    val clicks = MemoryStream[(Long, Long, Long)](spark)
    val views  = MemoryStream[(Long, Long, Long)](spark)
    def typed(m: MemoryStream[(Long, Long, Long)]) =
      m.toDF().toDF("event_id", "ts_us", "user_id")
        .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id")
    val q = StreamingPipeline.intervalJoined(typed(clicks), typed(views),
        joinType = "left_outer")
      .writeStream.format("memory").queryName("clickview_outer")
      .outputMode("append").start()
    try {
      val mu = 60L * 1000000L
      val t0 = 86400L * 1000000L
      views.addData((100L, t0, 1L))
      q.processAllAvailable()
      clicks.addData(
        (200L, t0 + 10 * mu, 1L), // matched inner row
        (202L, t0 + 5 * mu, 3L))  // no view for user 3 → outer row, LATER
      q.processAllAvailable()
      // the matched row emits promptly; the unmatched click must NOT
      // emit yet — its match window is still open
      def rows() = spark.table("clickview_outer")
        .select($"click_id", $"view_id".cast("string"))
        .as[(Long, Option[String])].collect().toSet
      assert(rows() === Set((200L, Some("100"))),
        s"outer row emitted before its window closed: ${rows()}")
      // advance BOTH watermarks far past click 202's window: the state
      // store proves no match can arrive and emits the null row once
      clicks.addData((300L, t0 + 300 * mu, 9L))
      views.addData((301L, t0 + 300 * mu, 9L))
      q.processAllAvailable()
      clicks.addData((302L, t0 + 301 * mu, 9L))
      views.addData((303L, t0 + 301 * mu, 9L))
      q.processAllAvailable()
      assert(rows().contains((202L, None)),
        s"unmatched click never emitted: ${rows()}")
    } finally q.stop()
  }

  test("stream-stream FULL OUTER interval join emits unmatched rows from BOTH sides") {
    val clicks = MemoryStream[(Long, Long, Long)](spark)
    val views  = MemoryStream[(Long, Long, Long)](spark)
    def typed(m: MemoryStream[(Long, Long, Long)]) =
      m.toDF().toDF("event_id", "ts_us", "user_id")
        .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id")
    val q = StreamingPipeline.intervalJoined(typed(clicks), typed(views),
        joinType = "full_outer")
      .writeStream.format("memory").queryName("clickview_full")
      .outputMode("append").start()
    try {
      val mu = 60L * 1000000L
      val t0 = 86400L * 1000000L
      views.addData(
        (100L, t0, 1L),          // matched by click 200
        (101L, t0, 4L))          // user with no click → view-side outer row
      q.processAllAvailable()
      clicks.addData(
        (200L, t0 + 10 * mu, 1L), // matched inner row
        (202L, t0 + 5 * mu, 3L))  // no view for user 3 → click-side outer row
      q.processAllAvailable()
      def rows() = spark.table("clickview_full")
        .select($"click_id".cast("string"), $"user_id",
          $"view_id".cast("string"))
        .as[(Option[String], Long, Option[String])].collect().toSet
      // only the matched row emits while windows are open
      assert(rows() === Set((Some("200"), 1L, Some("100"))),
        s"outer rows emitted before their windows closed: ${rows()}")
      // advance BOTH watermarks past every open window: each side's
      // state store proves no match can arrive and emits its null row
      for (t <- Seq(300L, 301L)) {
        clicks.addData((400L + t, t0 + t * mu, 9L))
        views.addData((500L + t, t0 + t * mu, 9L))
        q.processAllAvailable()
      }
      val r = rows()
      assert(r.contains((Some("202"), 3L, None)),
        s"unmatched click never emitted: $r")
      assert(r.contains((None, 4L, Some("101"))),
        s"unmatched view never emitted: $r")
    } finally q.stop()
  }

  test("stream-stream LEFT SEMI interval join keeps only clicks with a view in-window") {
    val clicks = MemoryStream[(Long, Long, Long)](spark)
    val views  = MemoryStream[(Long, Long, Long)](spark)
    def typed(m: MemoryStream[(Long, Long, Long)]) =
      m.toDF().toDF("event_id", "ts_us", "user_id")
        .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id")
    val q = StreamingPipeline.intervalJoined(typed(clicks), typed(views),
        joinType = "left_semi")
      .writeStream.format("memory").queryName("clickview_semi")
      .outputMode("append").start()
    try {
      val mu = 60L * 1000000L
      val t0 = 86400L * 1000000L
      views.addData((100L, t0, 1L))
      q.processAllAvailable()
      clicks.addData(
        (200L, t0 + 10 * mu, 1L), // in-window view exists → kept
        (201L, t0 + 50 * mu, 1L), // 50 min after → outside the gap
        (202L, t0 + 5 * mu, 3L))  // no view at all
      q.processAllAvailable()
      val rows = spark.table("clickview_semi")
        .select($"click_id").as[Long].collect().toSet
      assert(rows === Set(200L))
      // semi output is the click schema alone — no view payload columns
      assert(spark.table("clickview_semi").columns.toSeq ==
        Seq("click_id", "user_id", "click_ts"))
    } finally q.stop()
  }

  test("stream-static point-in-time enrichment picks the dim version valid at EVENT time") {
    // the SCD-2 history is a static lake table; a fact stream enriches
    // against the version whose validity interval covers the fact's
    // OWN timestamp — not the current version. The same
    // Layout.pointInTimeJoin used in batch runs unmodified as a
    // stream-static join (no state store, no watermark: the static
    // side re-resolves per micro-batch, which is also how a dim
    // UPDATED between batches takes effect).
    val dim = Seq[(Long, String, Long, java.lang.Long)](
      (1L, "A", 0L, 100L), (1L, "B", 100L, null))
      .toDF("k", "attr", "valid_from", "valid_to")
    val facts = MemoryStream[(Long, Long, Long)](spark)
    val q = graft.pipeline.Layout.pointInTimeJoin(
        facts.toDF().toDF("fact_id", "k", "f_ts"), dim, "k", "f_ts")
      .select($"fact_id", $"attr")
      .writeStream.format("memory").queryName("pit_enrich")
      .outputMode("append").start()
    try {
      facts.addData((10L, 1L, 50L), (11L, 1L, 150L), (12L, 2L, 50L))
      q.processAllAvailable()
      val rows = spark.table("pit_enrich")
        .as[(Long, String)].collect().toSet
      // fact 10 at t=50 sees version A, fact 11 at t=150 sees B; fact
      // 12's key has no history and must not fabricate a row
      assert(rows === Set((10L, "A"), (11L, "B")))
    } finally q.stop()
  }

  test("streaming NEAR-dup dedup collapses band collisions across micro-batches") {
    val mem = MemoryStream[(Long, String)](spark)
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingPipeline.nearDupLinks(docs)
      .writeStream.format("memory").queryName("near_dups")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog while seventeen " +
        "sleepy cats watch from the old wooden fence near the river bank at dawn"
      mem.addData(
        (1L, base),
        (2L, "completely different text about spark structured streaming " +
          "state stores and watermarks for bounded aggregation memory"))
      q.processAllAvailable()
      // a LATER micro-batch: a planted near-dup of doc 1 (one word
      // changed, bigram jaccard ~0.92) plus a fresh unrelated doc — the
      // band state must link the near-dup back to the earlier canonical
      mem.addData(
        (7L, base.replace("dawn", "dusk")),
        (8L, "another unrelated document mentioning connected components " +
          "and large star small star rounds"))
      q.processAllAvailable()
      val reps = spark.table("near_dups").groupBy($"doc_id")
        .agg(min($"canon_doc").as("rep")).as[(Long, Long)].collect().toMap
      assert(reps(1L) === 1L)
      assert(reps(7L) === 1L,
        "cross-micro-batch near-dup must collapse onto the earlier canonical doc")
      assert(reps(2L) === 2L && reps(8L) === 8L,
        "unrelated docs stay their own canonical")
    } finally q.stop()
  }

  test("streaming NEAR-dup: lower doc_id arriving LATER demotes the stored canon") {
    val mem = MemoryStream[(Long, String)](spark)
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingPipeline.nearDupLinks(docs)
      .writeStream.format("memory").queryName("near_dups_retro")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog while seventeen " +
        "sleepy cats watch from the old wooden fence near the river bank at dawn"
      // the HIGHER id arrives first and becomes the provisional canon
      mem.addData((5L, base))
      q.processAllAvailable()
      // the near-dup with the LOWER id arrives in a later micro-batch —
      // the retro link must re-root doc 5 under 3, or neither would
      // look like a duplicate
      mem.addData((3L, base.replace("dawn", "dusk")))
      q.processAllAvailable()
      val reps = spark.table("near_dups_retro").groupBy($"doc_id")
        .agg(min($"canon_doc").as("rep")).as[(Long, Long)].collect().toMap
      assert(reps(3L) === 3L, "the new minimum is canonical")
      assert(reps(5L) === 3L,
        "the earlier provisional canon is demoted via the retro link")
    } finally q.stop()
  }

  test("bounded NEAR-dup evicts band state beyond the watermark horizon") {
    val mem = MemoryStream[(Long, String, Long)](spark)
    val docs = mem.toDF().toDF("doc_id", "text", "ts_us")
      .select($"doc_id", $"text", timestamp_micros($"ts_us").as("ts"))
    val q = StreamingPipeline.nearDupLinksBounded(docs, horizonMinutes = 60)
      .writeStream.format("memory").queryName("near_dups_bounded")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog while seventeen " +
        "sleepy cats watch from the old wooden fence near the river bank at dawn"
      val minute = 60L * 1000000L
      val hour = 60L * minute
      val t0   = 86400L * 1000000L // day 1: epoch-0 rows sit AT the initial watermark
      mem.addData(
        (1L, base, t0),
        (2L, "completely different text about spark structured streaming " +
          "state stores and watermarks for bounded aggregation memory", t0))
      q.processAllAvailable()
      // inside the horizon: the cross-batch near-dup still collapses
      mem.addData((7L, base.replace("dawn", "dusk"), t0 + 10 * minute))
      q.processAllAvailable()
      val stateInHorizon = q.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      assert(stateInHorizon > 0)

      // jump 10 hours: the watermark passes every earlier band's
      // last-arrival + horizon, so their canon entries are evicted
      mem.addData((9L, "advancing the event clock with an unrelated " +
        "document about shard manifests and bucket pruning", t0 + 10 * hour))
      q.processAllAvailable()
      // a near-dup of doc 1 arriving BEYOND the horizon finds no state
      // and becomes its own canonical — dedup-within-horizon by design
      mem.addData((51L, base.replace("dawn", "noon"), t0 + 10 * hour + minute))
      q.processAllAvailable()

      val reps = spark.table("near_dups_bounded").groupBy($"doc_id")
        .agg(min($"canon_doc").as("rep")).as[(Long, Long)].collect().toMap
      assert(reps(7L) === 1L, "in-horizon near-dup collapses onto the canonical")
      assert(reps(51L) === 51L,
        "beyond-horizon arrival must NOT link to evicted state")
      val removed = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsRemoved).sum
      assert(removed > 0, "watermark-passed band state must be evicted")
      val stateFinal = q.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      assert(stateFinal < stateInHorizon + 8, // docs 9+51 bands at most
        s"state must stay O(horizon): $stateFinal vs in-horizon $stateInHorizon")
    } finally q.stop()
  }

  test("streaming curation: batch rule ladder verdicts, bounded dedup") {
    val good = "the ancient forest canopy shelters countless species while " +
      "rivers carve deep valleys through granite mountains and glaciers " +
      "retreat slowly revealing fertile ground beneath"
    val hour = 3600L * 1000000L
    val mem = MemoryStream[(Long, String, String, Long)](spark)
    val docs = mem.toDF().toDF("doc_id", "text", "source", "ts_us")
      .select($"doc_id", $"text", $"source",
        timestamp_micros($"ts_us").as("ts"))
    val q = StreamingPipeline.curatedDocs(docs)
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      // base event times a day past epoch 0: Spark's INITIAL watermark
      // is 0, and an event AT the watermark is already "late"
      val day = 24L * hour
      mem.addData(
        (1L, good, "web", day),
        (2L, "aaa bbb", "web", day + 1))     // too_short → dropped
      q.processAllAvailable()
      // a LATER micro-batch inside the horizon: doc 1's state dedupes it
      // (within one batch the surviving duplicate is arbitrary, so the
      // cross-batch guarantee is the one worth pinning)
      mem.addData((3L, good, "web", day + 2))
      q.processAllAvailable()
      mem.addData((4L, good + " extended with several additional tokens",
        "web", day + 3 * hour))
      q.processAllAvailable()
      val kept = spark.table("curated").select($"doc_id").as[Long]
        .collect().toSet
      assert(kept.contains(1L), "good doc must pass the gate")
      assert(!kept.contains(2L), "junk must be dropped by the gate")
      assert(!kept.contains(3L), "in-horizon duplicate body must collapse")

      // one rule definition, two modes: the BATCH gate on the same rows
      // returns the same verdicts the stream acted on
      val batch = graft.ops.Curation.withGateReason(
        Seq((1L, good), (2L, "aaa bbb"), (3L, good))
          .toDF("doc_id", "text"))
        .select($"doc_id", $"reason").as[(Long, String)].collect().toMap
      assert(batch(1L) === "keep")
      assert(batch(2L) === "too_short")
      assert(batch(3L) === "keep") // the STREAM's dedup, not the gate, drops it
    } finally q.stop()
  }

  test("drift monitor: matching window passes, skewed window pages, exactly once") {
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val typed = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"),
        $"user_id", $"event_type", $"value")
    // reference: equal mass in bins 0 and 1
    val reference = Map(0L -> 5L, 1L -> 5L)
    val q = StreamingPipeline.driftMonitor(typed, reference)
      .writeStream.format("memory").queryName("drift")
      .outputMode("append").start()
    try {
      val h  = 3_600_000_000L      // 1h in µs (the monitor's window)
      val t0 = 86400L * 1000000L   // hour-aligned, clear of epoch-0 watermark
      mem.addData(
        // window A (t0): 3 in bin 0, 3 in bin 1 — matches the reference
        (1L, t0, 1L, "m", 0.2), (2L, t0 + 1, 1L, "m", 0.4),
        (3L, t0 + 2, 1L, "m", 0.7), (4L, t0 + 3, 1L, "m", 1.1),
        (5L, t0 + 4, 1L, "m", 1.5), (6L, t0 + 5, 1L, "m", 1.9),
        // window B (t0+1h): all mass in bin 0 — drifted
        (7L, t0 + h, 1L, "m", 0.1), (8L, t0 + h + 1, 1L, "m", 0.3),
        (9L, t0 + h + 2, 1L, "m", 0.5), (10L, t0 + h + 3, 1L, "m", 0.9))
      q.processAllAvailable()
      // advance the watermark past both window ends (wm = max ts − 1h)
      mem.addData((11L, t0 + 4 * h, 1L, "m", 0.5))
      q.processAllAvailable()
      mem.addData((12L, t0 + 4 * h + 1, 1L, "m", 0.5))
      q.processAllAvailable()
      val rows = spark.table("drift")
        .select($"win_start_us", $"n_obs", $"d_num", $"d_stat", $"drifted")
        .as[(Long, Long, Double, Double, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      assert(rows.keySet === Set(t0, t0 + h), "exactly the two closed windows")
      // window A: CDFs agree at every bin → D = 0, no page
      assert(rows(t0)._2 === 6L)
      assert(rows(t0)._4 === 0.0 && !rows(t0)._5)
      // window B: bins {0→4}; at bin 0: |4·10 − 5·4| = 20 → D = 20/40 = 0.5
      assert(rows(t0 + h)._2 === 4L)
      assert(rows(t0 + h)._3 === 20.0)
      assert(rows(t0 + h)._4 === 0.5 && rows(t0 + h)._5)
      // exactly-once: nothing re-emits once closed
      mem.addData((13L, t0 + 5 * h, 1L, "m", 0.5))
      q.processAllAvailable()
      assert(spark.table("drift").count() === 2L)
    } finally q.stop()
  }

  test("streaming CUSUM: one alert at the crossing event; drops and flats stay silent") {
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val typed = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"),
        $"user_id", $"event_type", $"value")
    val q = StreamingPipeline.cusumMonitor(typed, threshold = 1000L)
      .writeStream.format("memory").queryName("cusum")
      .outputMode("append").start()
    try {
      val h  = 3_600_000_000L
      val t0 = 86400L * 1000000L
      mem.addData(
        // user 1: 1,1,1,5,5,5 → excursions (cents) 0,0,0,400,800,1200;
        // the 1200 at the SIXTH event is the first > 1000 crossing
        (1L, t0, 1L, "m", 1.0), (2L, t0 + h, 1L, "m", 1.0),
        (3L, t0 + 2 * h, 1L, "m", 1.0), (4L, t0 + 3 * h, 1L, "m", 5.0),
        (5L, t0 + 4 * h, 1L, "m", 5.0), (6L, t0 + 5 * h, 1L, "m", 5.0),
        // user 2: level DROP — the one-sided excursion stays 0
        (10L, t0, 2L, "m", 5.0), (11L, t0 + h, 2L, "m", 1.0),
        (12L, t0 + 2 * h, 2L, "m", 1.0))
      q.processAllAvailable()
      // watermark advance (wm = max ts − 1h) lets the timeout drain the
      // buffered tail; two pokes so the timeout itself then fires
      mem.addData((99L, t0 + 10 * h, 9L, "m", 1.0))
      q.processAllAvailable()
      mem.addData((100L, t0 + 11 * h, 9L, "m", 1.0))
      q.processAllAvailable()
      val rows = spark.table("cusum")
        .select($"user_id", $"ts_us", $"stat")
        .as[(Long, Long, Long)].collect().toSeq
      assert(rows === Seq((1L, t0 + 5 * h, 1200L)),
        s"exactly the one crossing alert: $rows")
      // exactly-once: the drifted user keeps drifting, the latch holds
      mem.addData((7L, t0 + 12 * h, 1L, "m", 9.0))
      q.processAllAvailable()
      mem.addData((101L, t0 + 20 * h, 9L, "m", 1.0))
      q.processAllAvailable()
      assert(spark.table("cusum").count() === 1L, "no re-alert after latch")
    } finally q.stop()
  }

  test("streaming CUSUM restores its buffered events across a restart and alerts once") {
    val landing = scratchDir("cusum_landing")
    val out = scratchDir("cusum_out") + "/alerts"
    val ckpt = scratchDir("cusum_ckpt") + "/cp"
    val h  = 3_600_000_000L
    val t0 = 86400L * 1000000L
    // one query run from the CSV landing dir into a parquet sink, resumed
    // from the same checkpoint every time
    def run(): Unit = {
      val q = StreamingPipeline
        .cusumMonitor(StreamingPipeline.readCsvStream(spark, landing),
          threshold = 1000L)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .start(out)
      try q.processAllAvailable() finally q.stop()
    }
    def alerts(): Seq[(Long, Long, Long)] =
      spark.read.schema(Encoders.product[CusumAlert].schema).parquet(out)
        .select($"user_id", $"ts_us", $"stat").as[(Long, Long, Long)]
        .collect().toSeq
    // user 1: 1,1,1,5,5,5 → excursions (cents) 0,0,0,400,800,1200; the
    // crossing is the SIXTH event, which the watermark (max ts − 1h)
    // has not passed when the first run stops
    writeCsv(landing, "b1.csv", Seq(
      s"1,$t0,1,m,1.0", s"2,${t0 + h},1,m,1.0", s"3,${t0 + 2 * h},1,m,1.0",
      s"4,${t0 + 3 * h},1,m,5.0", s"5,${t0 + 4 * h},1,m,5.0",
      s"6,${t0 + 5 * h},1,m,5.0"))
    run()
    assert(alerts().isEmpty, "the crossing event is still buffered")
    // restart: a later event moves the watermark past the crossing,
    // which only the restored buffer and running sums can alert on
    writeCsv(landing, "b2.csv", Seq(s"99,${t0 + 10 * h},9,m,1.0"))
    run()
    assert(alerts() === Seq((1L, t0 + 5 * h, 1200L)),
      "exactly the one crossing alert")
  }

  test("streaming attribution credits like the batch window, " +
      "incl. out-of-order arrival inside the horizon") {
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val typed = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"),
        $"user_id", $"event_type", $"value")
    val q = StreamingPipeline.attributionMonitor(typed)
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      val m  = 60L * 1000000L
      val t0 = 86400L * 1000000L
      mem.addData(
        // the purchase ARRIVES BEFORE its click (out of order, inside
        // the horizon): the drain's total order must still credit it
        (1L, t0 + 10 * m, 1L, "purchase", 2.0),
        (0L, t0, 1L, "click", 0.0),
        // a 7h-later purchase against a 20-min view → stale
        (2L, t0 + 20 * m, 1L, "view", 0.0),
        (3L, t0 + 440 * m, 1L, "purchase", 10.0),
        // a purchase with no prior touch → none
        (4L, t0 + 5 * m, 2L, "purchase", 1.0))
      q.processAllAvailable()
      // watermark pokes so the buffered tail finalizes
      mem.addData((99L, t0 + 600 * m, 9L, "m", 1.0))
      q.processAllAvailable()
      mem.addData((100L, t0 + 700 * m, 9L, "m", 1.0))
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .select($"event_id", $"channel", $"cents")
        .as[(Long, String, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(rows === Map(
        1L -> ("click", 200L),
        3L -> ("stale", 1000L),
        4L -> ("none", 100L)))
    } finally q.stop()
  }

  test("streaming gap fill: LOCF grid matching the batch ts_gap_fill shape") {
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val typed = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"),
        $"user_id", $"event_type", $"value")
    val q = StreamingPipeline.gapFilled(typed)
      .writeStream.format("memory").queryName("gap_fill")
      .outputMode("append").start()
    try {
      val h   = 3_600_000_000L
      val min = 60L * 1000000L
      val t0  = 86400L * 1000000L // absolute bucket 24
      // user 1: two events in hour 24 (the later must represent it),
      // one in hour 27 — hours 25-26 are the gap to fill
      mem.addData(
        (1L, t0 + 6 * min, 1L, "view", 1.5),
        (2L, t0 + 40 * min, 1L, "click", 2.5),
        (3L, t0 + 3 * h + 42 * min, 1L, "view", 9.0))
      q.processAllAvailable()
      // batch 1's own watermark advance (max event − 1h = t0+2h42m)
      // closes bucket 24 via the follow-up no-data batch; the h27
      // bucket and the gap behind it stay open
      assert(spark.table("gap_fill")
        .select($"user_id", $"bucket", $"value_ff", $"observed")
        .as[(Long, Long, Double, Boolean)].collect().toSet
        === Set((1L, 24L, 2.5, true)))
      // sentinel traffic advances the watermark; user 1 emits via the
      // event-time timeout arm without ever sending another event
      mem.addData((100L, t0 + 10 * h, 2L, "view", 4.0))
      q.processAllAvailable()
      mem.addData((101L, t0 + 12 * h, 2L, "view", 4.5))
      q.processAllAvailable()
      val got = spark.table("gap_fill")
        .select($"user_id", $"bucket", $"value_ff", $"observed")
        .as[(Long, Long, Double, Boolean)].collect().toSet
      assert(got === Set(
        (1L, 24L, 2.5, true),  // later in-bucket event wins
        (1L, 25L, 2.5, false), // gap: carried forward
        (1L, 26L, 2.5, false),
        (1L, 27L, 9.0, true)))
      // the sentinel user's own trailing bucket stays open: the grid
      // ends at the last CLOSED observation, like the batch query's
      // min..max bucket span — and closed cells never re-emit
      mem.addData((102L, t0 + 13 * h, 2L, "view", 5.0))
      q.processAllAvailable()
      val after = spark.table("gap_fill")
        .select($"user_id", $"bucket", $"value_ff", $"observed")
        .as[(Long, Long, Double, Boolean)].collect()
      assert(after.count(_._1 == 1L) === 4, "user 1 rows emit exactly once")
      // user 2's bucket 34 (t0+10h) closed once wm passed t0+12h; its
      // gap to bucket 36 fills only when a later bucket closes
      assert(after.filter(_._1 == 2L).map(r => (r._2, r._3, r._4)).toSet
        === Set((34L, 4.0, true)))
    } finally q.stop()
  }

  test("streaming span scrub verdicts equal the batch operator's, exactly-once") {
    import graft.pipeline.SnapshotStore
    val landing = scratchDir("span_landing")
    val idx     = scratchDir("span_idx") + "/idx"
    val clean   = scratchDir("span_clean") + "/docs"
    val ckpt    = scratchDir("span_ckpt") + "/cp"
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // a 14-token span: every non-first occurrence must be scrubbed in
    // FULL (the W=10 windows' union covers it), at ANY offset
    val span = (1 to 14).map(i => s"dup$i").mkString(" ")
    def words(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Map(
      1L -> s"${words("a", 5)} $span ${words("b", 4)}", // first occurrence
      2L -> words("c", 12),                             // clean
      3L -> s"${words("d", 3)} $span ${words("e", 7)}", // cross-batch dup, new offset
      4L -> span,                                       // the span alone
      5L -> words("f", 6))                              // sub-W doc: no windows
    def writeDocs(name: String, ids: Seq[Long]): Unit =
      Files.write(Paths.get(landing, name),
        ("doc_id\ttext" +: ids.map(id => s"$id\t${docs(id)}"))
          .mkString("\n").getBytes("UTF-8"))
    def run(): Unit = StreamingPipeline.runIncrementalSpanScrub(
      spark,
      spark.readStream.option("header", "true").option("sep", "\t")
        .schema(docSchema).csv(s"$landing/*.csv"),
      idx, clean, ckpt).awaitTermination()
    def cleanedRows: Set[(Long, Long, Long, String)] =
      SnapshotStore.read(spark, clean).get
        .select("doc_id", "n_tokens", "n_removed", "text_clean")
        .as[(Long, Long, Long, String)].collect().toSet

    writeDocs("b1.csv", Seq(1L, 2L))
    run()
    writeDocs("b2.csv", Seq(3L, 4L, 5L))
    run()

    // the batch operator over the SAME corpus (replayed in doc_id order)
    // must produce identical verdicts: write the corpus as a documents
    // table and run the registered query against it
    val batchDir = scratchDir("span_batch")
    docs.toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$batchDir/documents.parquet")
    val batch = SparkEntry.queries("dedup_span_scrub")(spark, batchDir)
      .select("doc_id", "n_tokens", "n_removed", "text_clean")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(cleanedRows === batch,
      "stream verdicts must equal the batch operator's")
    // the dup's whole 14-token span vanished from docs 3 and 4, the
    // first occurrence survived, and the sub-W doc passed through
    val byId = cleanedRows.map(r => r._1 -> r).toMap
    assert(byId(1L)._3 == 0L && byId(2L)._3 == 0L && byId(5L)._3 == 0L)
    assert(byId(3L)._3 == 14L && !byId(3L)._4.contains("dup"))
    assert(byId(4L) == (4L, 14L, 14L, ""))

    // restart with no new files: checkpoint replays nothing, both
    // stores keep their heads (exactly-once across the pair)
    run()
    assert(SnapshotStore.latestVersion(spark, clean).contains(1L))
    assert(SnapshotStore.latestVersion(spark, idx).contains(1L))
    assert(cleanedRows === batch)
  }

  test("span-scrub lifecycle: 21 batches stay pruned, generations roll, probe reads one bucket") {
    // Continuous-load lifecycle (VERDICT r10 #6): the window-hash index
    // grows monotonically, so a long stream must (a) keep each
    // generation's data-dir count bounded via the store's per-commit
    // retention, (b) ROLL generations (rebucket at 2x) when the mean
    // bucket outgrows spark.graft.stream.scrubMaxBucketBytes, and
    // (c) keep probe IO at ONE bucket regardless of how many batches
    // ever committed. Drive 21 micro-batches through one AvailableNow
    // run (maxFilesPerTrigger=1), with a duplicate span planted 17
    // batches after its first occurrence so the verdicts prove the
    // ROLLED index preserved every hash.
    import graft.pipeline.SnapshotStore
    val landing = scratchDir("span_life_landing")
    val idx     = scratchDir("span_life_idx") + "/idx"
    val clean   = scratchDir("span_life_clean") + "/docs"
    val ckpt    = scratchDir("span_life_ckpt") + "/cp"
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val span = (1 to 14).map(i => s"dup$i").mkString(" ")
    var corpus = Map.empty[Long, String]
    (0 until 21).foreach { i =>
      val id = i.toLong + 1
      // unique tokens per batch => the index grows every batch; batch 1
      // carries the span's first occurrence, batch 18 a duplicate
      val filler = (1 to 16).map(t => s"b${i}w$t").mkString(" ")
      val text =
        if (i == 1 || i == 18) s"$filler $span"
        else s"$filler ${(17 to 30).map(t => s"b${i}w$t").mkString(" ")}"
      corpus += id -> text
      Files.write(Paths.get(landing, f"b$i%02d.csv"),
        s"doc_id\ttext\n$id\t$text".getBytes("UTF-8"))
    }
    spark.conf.set("spark.graft.snapshot.buckets", "2")
    spark.conf.set("spark.graft.stream.scrubMaxBucketBytes", "4000")
    try {
      StreamingPipeline.runIncrementalSpanScrub(
        spark,
        spark.readStream.option("header", "true").option("sep", "\t")
          .option("maxFilesPerTrigger", "1")
          .schema(docSchema).csv(s"$landing/*.csv"),
        idx, clean, ckpt).awaitTermination()

      // 21 batches committed exactly-once into the cleaned store
      assert(SnapshotStore.latestVersion(spark, clean).contains(20L))

      // (b) the index rolled at least once and doubled its buckets
      val live = StreamingPipeline.scrubIndexGen(spark, idx)
      assert(live != idx, "index never rolled a generation")
      val m = SnapshotStore.manifest(spark, live).get
      assert(m.numBuckets >= 4 && m.numBuckets % 2 == 0,
        s"rolled generation must double buckets, got ${m.numBuckets}")

      // (a) retention keeps the live generation's data dirs bounded by
      // the bucket count, not the batch count
      val fs = new org.apache.hadoop.fs.Path(live)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(live))
        .map(_.getPath.getName).count(_.matches("v\\d{8,}-[0-9a-f]+"))
      assert(dataDirs <= 2 * m.numBuckets + 2,
        s"$dataDirs data dirs in the live gen — retention is not pruning")

      // (c) a point probe reads exactly ONE bucket dir — IO independent
      // of the 21 commits behind it
      val someHash = SnapshotStore.read(spark, live).get
        .select("hsh").head().get(0)
      val probe = SnapshotStore.lookupKey(spark, live, "hsh", someHash).get
      val bucketDirs = probe.inputFiles
        .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
      assert(bucketDirs.length == 1,
        s"probe touched ${bucketDirs.length} bucket dirs: " +
          bucketDirs.mkString(", "))
      assert(probe.count() >= 1L)

      // the rolled index preserved every hash: verdicts still equal the
      // batch operator's over the whole corpus, and the batch-18 dup
      // (17 batches and >=1 roll after its first occurrence) is scrubbed
      val cleaned = SnapshotStore.read(spark, clean).get
        .select("doc_id", "n_tokens", "n_removed", "text_clean")
        .as[(Long, Long, Long, String)].collect().toSet
      val batchDir = scratchDir("span_life_batch")
      corpus.toSeq.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$batchDir/documents.parquet")
      val viaBatch = SparkEntry.queries("dedup_span_scrub")(spark, batchDir)
        .select("doc_id", "n_tokens", "n_removed", "text_clean")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(cleaned === viaBatch,
        "stream verdicts must equal the batch operator's across rolls")
      val byId = cleaned.map(r => r._1 -> r).toMap
      assert(byId(2L)._3 == 0L, "first occurrence must survive")
      assert(byId(19L)._3 == 14L && !byId(19L)._4.contains("dup"),
        "the post-roll duplicate span must be scrubbed in full")
    } finally {
      spark.conf.unset("spark.graft.snapshot.buckets")
      spark.conf.unset("spark.graft.stream.scrubMaxBucketBytes")
    }
  }

  test("streaming Holt forecast emits exactly the batch row per user, " +
      "incl. out-of-order arrival inside the horizon") {
    import org.apache.spark.sql.functions.timestamp_micros
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val typed = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"),
        $"user_id", $"event_type", $"value")
    val q = StreamingPipeline.holtForecaster(typed)
      .writeStream.format("memory").queryName("holt")
      .outputMode("append").start()
    val h  = 3_600_000_000L
    val t0 = 86400L * 1000000L
    // user 1: 10 linear observations 3.0 + 0.5*i — the recurrence is
    // exact on linear input, so the stream must forecast with zero
    // error; events 3 and 4 are delivered SWAPPED (out of order inside
    // the horizon — finalization must restore the event-time order).
    // user 2: only 5 observations — must never emit.
    val u1 = (1 to 10).map(i =>
      ((100 + i).toLong, t0 + i * h, 1L, "m", 3.0 + 0.5 * i))
    val u1Swapped = u1.updated(2, u1(3)).updated(3, u1(2))
    val u2 = (1 to 5).map(i =>
      ((200 + i).toLong, t0 + i * h, 2L, "m", 7.0))
    try {
      mem.addData(u1Swapped ++ u2)
      q.processAllAvailable()
      // advance the watermark past u1's 9th observation, then poke so
      // the event-time timeout fires and drains the buffer
      mem.addData((900L, t0 + 30 * h, 9L, "m", 1.0))
      q.processAllAvailable()
      mem.addData((901L, t0 + 31 * h, 9L, "m", 1.0))
      q.processAllAvailable()

      val got = spark.table("holt")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      assert(got.map(_._1) === Seq(1L), s"exactly user 1 emits: $got")

      // batch twin on the identical rows
      val d = scratchDir("st_holt")
      (u1 ++ u2 :+ ((900L, t0 + 30 * h, 9L, "m", 1.0))
        :+ ((901L, t0 + 31 * h, 9L, "m", 1.0)))
        .map { case (id, us, u, et, v) =>
          (id, new java.sql.Timestamp(us / 1000), u, et, v) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      val batch = SparkEntry.queries("ts_forecast_holt")(spark, d)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
        .filter(_._1 == 1L)
      assert(got === batch, "stream row must be bit-identical to batch")
      assert(got.head._6 === 0L, "linear series must forecast exactly")

      // replay idempotence: more data for user 1 never re-emits
      mem.addData((902L, t0 + 40 * h, 1L, "m", 99.0))
      q.processAllAvailable()
      mem.addData((903L, t0 + 41 * h, 9L, "m", 1.0))
      q.processAllAvailable()
      assert(spark.table("holt").count() === 1L, "emit latch holds")
    } finally q.stop()
  }
}
