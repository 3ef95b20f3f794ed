package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import graft.pipeline.{EventsPipeline, Layout, SnapshotStore}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}

/** Open-session state for one user (flatMapGroupsWithState). */
final case class SessionState(startUs: Long, lastUs: Long, n: Long)

/** A closed session emitted downstream. */
final case class SessionSummary(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

/** Per-LSH-band state for streaming near-dup detection: the canonical
  * (lowest) doc_id ever seen for this band signature.
  */
final case class BandCanon(canonDoc: Long)

/** One near-dup link: `doc_id` collided with `canon_doc`'s band. A doc
  * with min(canon_doc) < doc_id over its links is a near-duplicate.
  */
final case class BandLink(doc_id: Long, canon_doc: Long)

/** Per-window drift state: the binned histogram of the metric
  * (value-bounded — |bins| entries, never row-bounded).
  */
final case class DriftState(bins: Map[Long, Long])

/** One closed window's drift verdict against the frozen reference. */
final case class DriftReport(win_start_us: Long, n_obs: Long,
    d_num: Double, d_stat: Double, drifted: Boolean)

/** Per-user CUSUM state: events buffered inside the watermark horizon
  * (the ordered fold needs event-time FINALITY — an excursion computed
  * on out-of-order arrivals would disagree with the batch replay), plus
  * the folded running tail: the baseline (first observation, cents),
  * the running deviation sum, its running minimum, the max excursion,
  * and the alert latch. The buffer is watermark-bounded; the tail is
  * five fixed-size fields — O(1) per user once drained.
  */
final case class CusumState(
    open: Vector[(Long, Long, Long)], // (tsUs, eventId, cents), unordered
    baselineSet: Boolean, baseline: Long,
    sSum: Long, sMin: Long, statMax: Long, alerted: Boolean)

/** The ONE alert a drifting user emits: the first event whose excursion
  * crossed the threshold (exactly-once by the latch).
  */
final case class CusumAlert(user_id: Long, ts_us: Long, stat: Long)

/** Per-user state for the streaming Holt forecaster: the
  * watermark-bounded open buffer, the ≤9 finalized head observations
  * (event-time total order), and the one-shot emit latch.
  */
final case class HoltState(
    open: Vector[(Long, Long, Long)],   // (tsUs, eventId, xCenti)
    finals: Vector[(Long, Long, Long)], // finalized, sorted, capped at 9
    done: Boolean)

/** The ONE forecast row a user emits once its 9th observation
  * finalizes — bit-identical to the batch `ts_forecast_holt` row.
  */
final case class HoltForecast(
    user_id: Long, level_fp: Long, trend_fp: Long,
    forecast_c: Long, actual_c: Long, abs_err_c: Long)

/** Per-user attribution state: events buffered inside the watermark
  * horizon plus the carried last touch — exactly the two ignore-nulls
  * carries of the batch `win_attribution`, as O(1) fields.
  */
final case class AttribState(
    open: Vector[(Long, Long, String, Long)], // (ts_us, event_id, type, cents)
    tType: String,
    tUs: Long,
    hasTouch: Boolean)

/** One credited conversion: the channel is the user's most recent touch
  * within the freshness window at the purchase's event time ('stale'
  * past it, 'none' if untouched) — the batch win_attribution row,
  * emitted per purchase as it finalizes.
  */
final case class AttribCredit(user_id: Long, event_id: Long, ts_us: Long,
    channel: String, cents: Long)

/** Per-user gap-fill state: the OPEN buckets' best observation keyed by
  * bucket (`(tsUs, eventId, value)` — max by the (ts, event_id) total
  * order), plus the last CLOSED bucket already emitted and its value
  * (the LOCF carry). `lastBucket` = Long.MinValue until the user's
  * first bucket closes.
  */
final case class GapFillState(
    open: Map[Long, (Long, Long, Double)],
    lastBucket: Long, lastVal: Double)

/** One emitted grid cell: `observed` = a real event's value, else the
  * LOCF carry across a gap bucket.
  */
final case class GapFillRow(user_id: Long, bucket: Long,
    value_ff: Double, observed: Boolean)

/** Structured-Streaming re-expression of the reference's incremental
  * pipeline (SURVEY.md §7.3 step 6): the hand-rolled high-watermark
  * (read sink MAX → filter → append, weather_task.py:70-99) collapses
  * into `readStream` + checkpointed source tracking — exactly-once file
  * processing is the checkpoint's job, so re-running after a crash
  * re-ingests nothing, which is the property the batch pipeline gets
  * from its watermark join.
  *
  * Scale notes (100 TB): the streaming scan is the same parquet/CSV
  * source with the same pushdown; state stores (windowed agg, streaming
  * dedup) are keyed by group and bounded by the event-time watermark —
  * `withWatermark` is what lets Spark drop state for closed windows, so
  * memory is O(open windows × keys), not O(stream length). The dedup
  * state holds only event_ids inside the watermark horizon.
  */
// Serializable: `canonLinks` is shared by both near-dup state functions,
// so their closures capture this object and ship it to executors
object StreamingPipeline extends Serializable {

  /** S1, streaming: schema'd CSV directory stream (same raw schema and
    * P1 cast projection as the batch path — one definition, two modes).
    */
  def readCsvStream(spark: SparkSession, dir: String): DataFrame =
    EventsPipeline.typed(
      spark.readStream
        .option("header", "true")
        .schema(EventsPipeline.rawSchema)
        .csv(s"$dir/*.csv"))

  /** Event-time windowed counts with a watermark bounding agg state. */
  def windowedCounts(typed: DataFrame, watermark: String = "1 hour"): DataFrame =
    typed
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup: event_id uniqueness inside the watermark
    * horizon (the streaming sibling of dedup_exact).
    */
  def deduped(typed: DataFrame, watermark: String = "1 hour"): DataFrame =
    typed
      .withWatermark("ts", watermark)
      .dropDuplicates("event_id")

  /** The event-time harness every keyed monitor runs on: watermark `ts`,
    * project `ts` itself (EventTimeTimeout needs the event-time tag on
    * its input, and `unix_micros` strips it), its µs twin `ts_us`, the
    * Long `key` and `cols`, group by the key, and apply `update` in
    * Append mode with an event-time timeout. `update` returns its rows
    * and when to wake next (epoch ms; None sets no timeout); the wake-up
    * is clamped strictly above the current watermark, since Spark
    * rejects a timeout at or below it (a fully-late key's deadline has
    * already passed).
    */
  private def eventTimeState[S <: Product : TypeTag, O <: Product : TypeTag](
      typed: DataFrame, watermark: String, key: Column, cols: Column*)(
      update: (Long, Iterator[Row], GroupState[S]) => (Iterator[O], Option[Long]))
      : Dataset[O] = {
    implicit val stateEnc: Encoder[S] = Encoders.product[S]
    implicit val outEnc: Encoder[O]   = Encoders.product[O]
    typed
      .withWatermark("ts", watermark)
      .select(col("ts") +: unix_micros(col("ts")).as("ts_us") +:
        key.as("key") +: cols: _*)
      .groupByKey(_.getAs[Long]("key"))(Encoders.scalaLong)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: Long, rows: Iterator[Row], state: GroupState[S]) =>
          val (out, wake) = update(k, rows, state)
          wake.foreach(t => state.setTimeoutTimestamp(
            math.max(t, state.getCurrentWatermarkMs() + 1)))
          out
      }
  }

  /** Finalize a watermark-bounded event buffer: the events at or below
    * `state`'s current watermark in the (ts_us, event_id) total order the
    * batch windows fold in, the events still open, and the wake-up
    * (epoch ms) at which the watermark can pass the earliest open one.
    */
  private def finalizeOrder[E](open: Vector[E], state: GroupState[_])(
      tsId: E => (Long, Long)): (Vector[E], Vector[E], Option[Long]) = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val (ready, still) = open.partition(tsId(_)._1 <= wmUs)
    (ready.sortBy(tsId), still,
      if (still.isEmpty) None else Some(still.map(tsId(_)._1).min / 1000L + 1L))
  }

  /** Custom stateful sessionization over a stream
    * (`flatMapGroupsWithState`): per-user session aggregates — the
    * arbitrary-state API the built-in windowed aggregates can't express
    * (session membership depends on the previous event's time, not a
    * fixed grid). State per key is one `SessionState` (bounded); a
    * closed session is emitted as soon as a later event opens the next
    * one, and a session whose user goes IDLE is flushed by an
    * event-time timeout once the watermark passes `last event + gap` —
    * without that arm the last session of every user is withheld
    * forever and state is O(distinct users ever), the
    * unbounded-population hole the other stateful paths
    * (`nearDupLinksBounded`, the windowed aggs) already close. State
    * is therefore O(users active inside gap + watermark), and the
    * stream agrees with the batch `win_sessionize` split on every
    * CLOSED session (StreamingSpec pins the parity).
    */
  def sessionized(
      typed: Dataset[Row],
      gapMinutes: Long = 30,
      watermark: String = "1 hour"): Dataset[SessionSummary] = {
    val gapUs = gapMinutes * 60L * 1000000L

    def update(userId: Long, rows: Iterator[Row],
        state: GroupState[SessionState]): (Iterator[SessionSummary], Option[Long]) = {
      if (state.hasTimedOut) {
        // watermark passed lastUs + gap with no successor event: the
        // open session can never be extended — flush it, drop the state
        val s = state.get
        state.remove()
        (Iterator.single(SessionSummary(userId, s.startUs, s.lastUs, s.n)), None)
      } else {
        var closed = List.empty[SessionSummary]
        var cur = state.getOption
        rows.toSeq.sortBy(r => r.getAs[Long]("ts_us")).foreach { r =>
          val ts = r.getAs[Long]("ts_us")
          cur match {
            case Some(s) if ts - s.lastUs <= gapUs =>
              // max(): a late within-gap event from an earlier micro-batch
              // must not move the session's end backwards
              cur = Some(s.copy(lastUs = math.max(s.lastUs, ts), n = s.n + 1))
            case Some(s) =>
              closed ::= SessionSummary(userId, s.startUs, s.lastUs, s.n)
              cur = Some(SessionState(ts, ts, 1))
            case None =>
              cur = Some(SessionState(ts, ts, 1))
          }
        }
        cur.foreach(state.update)
        (closed.reverse.iterator, cur.map(s => s.lastUs / 1000L + gapUs / 1000L))
      }
    }

    eventTimeState(typed, watermark, col("user_id"))(update)
  }

  /** Streaming drift monitor — the streaming deployment of the batch
    * `stats_ks_drift` gate: each event-time window accumulates a binned
    * histogram of `value` (bin = floor(value/binWidth)), and when the
    * watermark passes the window end the two-sample KS statistic of
    * that window against a frozen REFERENCE histogram (the
    * training-corpus distribution) is emitted — the monitor that pages
    * before a skewed upstream refresh poisons the next fine-tune,
    * without ever re-reading history.
    *
    * Same integer CDF math as the batch query: D's numerator is the
    * cross-product |cum_w·n_ref − cum_r·n_w| over the sorted union of
    * bins, one double division at the end. Window populations are
    * watermark-bounded, so the long products stay far inside int64
    * (the batch query's DECIMAL(38,0) headroom is for unbounded
    * corpora; a window is not one). State per OPEN window is the
    * ≤|bins| map — value-bounded; the event-time timeout closes each
    * window exactly once, so a report is emitted exactly once and
    * state is O(open windows), the same bound the windowed aggs get
    * from `withWatermark`. The reference rides the closure as a
    * metadata-class map: it IS the bounded bin frame the batch gate
    * walks, frozen driver-side at deploy time.
    */
  def driftMonitor(
      typed: DataFrame,
      reference: Map[Long, Long],
      binWidth: Double = 1.0,
      windowMinutes: Long = 60,
      threshold: Double = 0.2,
      watermark: String = "1 hour"): Dataset[DriftReport] = {
    val winUs = windowMinutes * 60L * 1000000L
    val nRef  = reference.values.sum

    def close(winStart: Long, bins: Map[Long, Long]): DriftReport = {
      val nW = bins.values.sum
      var (cumW, cumR, dNum) = (0L, 0L, 0L)
      (bins.keySet ++ reference.keySet).toSeq.sorted.foreach { b =>
        cumW += bins.getOrElse(b, 0L)
        cumR += reference.getOrElse(b, 0L)
        dNum = math.max(dNum, math.abs(cumW * nRef - cumR * nW))
      }
      val d = if (nW == 0L || nRef == 0L) 0.0
              else dNum.toDouble / (nW.toDouble * nRef.toDouble)
      DriftReport(winStart, nW, dNum.toDouble, d, d > threshold)
    }

    def update(winStart: Long, rows: Iterator[Row],
        state: GroupState[DriftState]): (Iterator[DriftReport], Option[Long]) = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        (Iterator.single(close(winStart, s.bins)), None)
      } else {
        var bins = state.getOption.map(_.bins).getOrElse(Map.empty[Long, Long])
        rows.foreach { r =>
          val b = r.getAs[Long]("bin")
          bins = bins.updated(b, bins.getOrElse(b, 0L) + 1L)
        }
        state.update(DriftState(bins))
        // close at window end
        (Iterator.empty, Some((winStart + winUs) / 1000L))
      }
    }

    eventTimeState(typed, watermark,
      unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(winUs)),
      floor(col("value") / lit(binWidth)).cast("long").as("bin"))(update)
  }

  /** Streaming CUSUM monitor — the streaming deployment of the batch
    * `win_cusum_drift` query: per user, fold events in event-time order
    * into Page's cumulative-sum recurrence (S_t = Σ(centsᵢ − baseline),
    * excursion = S_t − min_{s≤t} S_s, baseline = the user's first
    * observation) and emit ONE alert when the excursion first exceeds
    * the threshold — the alert row carries the crossing event's
    * timestamp, which is exactly the batch query's argmax changepoint
    * when the threshold is first crossed there.
    *
    * Out-of-order safety: the recurrence is order-sensitive, so events
    * fold only once the watermark passes them (buffered in state until
    * final, the `gapFilled` discipline); an event-time timeout drains
    * the buffer when the stream advances without new arrivals for the
    * user. State per user is the watermark-bounded buffer plus five
    * fixed-size fields; the alert latch makes emission exactly-once
    * and idempotent under replay.
    */
  def cusumMonitor(
      typed: DataFrame,
      threshold: Long = 100000L,
      watermark: String = "1 hour"): Dataset[CusumAlert] = {
    val empty = CusumState(Vector.empty, baselineSet = false, 0L, 0L, 0L, 0L,
      alerted = false)

    def update(userId: Long, rows: Iterator[Row],
        state: GroupState[CusumState]): (Iterator[CusumAlert], Option[Long]) = {
      val s = state.getOption.getOrElse(empty)
      val open =
        if (state.hasTimedOut) s.open
        else s.open ++ rows.map(r => (
          r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"),
          r.getAs[Long]("cents")))
      // fold every buffered event at-or-before the watermark
      val (ready, still, wake) = finalizeOrder(open, state)(e => (e._1, e._2))
      var (bSet, b)  = (s.baselineSet, s.baseline)
      var (sum, mn)  = (s.sSum, s.sMin)
      var mx         = s.statMax
      var alerted    = s.alerted
      var alert: Option[CusumAlert] = None
      ready.foreach { case (ts, _, cents) =>
        if (!bSet) { bSet = true; b = cents }
        sum += cents - b
        if (sum < mn) mn = sum
        val stat = sum - mn
        if (stat > mx) mx = stat
        if (!alerted && stat > threshold) {
          alerted = true
          alert = Some(CusumAlert(userId, ts, stat))
        }
      }
      state.update(CusumState(still, bSet, b, sum, mn, mx, alerted))
      (alert.iterator, wake)
    }

    eventTimeState(typed, watermark, col("user_id"), col("event_id"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))(update)
  }

  /** Streaming Holt forecaster — the streaming deployment of the batch
    * `ts_forecast_holt`: per user, the FIRST 9 observations in the
    * (ts_us, event_id) event-time total order train/score the same
    * pure-integer recurrence (α=1/2, β=1/4 in 2¹⁰ fixed point,
    * sign-split floor division), and exactly ONE forecast row emits
    * once the 9th observation FINALIZES — bit-identical to the batch
    * query's row for that user. The cusumMonitor discipline: the
    * recurrence is order-sensitive, so nothing folds before the
    * watermark passes it (out-of-order arrivals inside the horizon
    * reorder correctly; beyond-watermark stragglers are dropped by the
    * standard contract — the batch query, which sees all data, is the
    * reconciliation). The emit latch makes replays idempotent; state
    * per user is the watermark-bounded buffer + ≤9 finalized rows +
    * the latch. Users that never reach 9 observations never emit
    * (batch drops them too — no actual to score).
    */
  def holtForecaster(typed: DataFrame, watermark: String = "1 hour")
      : Dataset[HoltForecast] = {
    val empty = HoltState(Vector.empty, Vector.empty, done = false)

    def fit(userId: Long, f: Vector[(Long, Long, Long)]): HoltForecast = {
      val xs = f.map(_._3)
      var l = xs(0) * 1024L
      var b = (xs(1) - xs(0)) * 1024L
      var i = 1
      while (i < 8) {
        val lp = l
        l = Math.floorDiv(xs(i) * 1024L + lp + b, 2L)
        b = Math.floorDiv((l - lp) + 3L * b, 4L)
        i += 1
      }
      val fc = Math.floorDiv(l + b, 1024L)
      HoltForecast(userId, l, b, fc, xs(8), math.abs(xs(8) - fc))
    }

    def update(userId: Long, rows: Iterator[Row],
        state: GroupState[HoltState]): (Iterator[HoltForecast], Option[Long]) = {
      val withNew =
        if (state.hasTimedOut) state.getOption.getOrElse(empty)
        else {
          val s = state.getOption.getOrElse(empty)
          if (s.done) s
          else s.copy(open = s.open ++ rows.map(r => (
            r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"),
            r.getAs[Long]("x"))))
        }
      // the finalized head sits at or below every later watermark, so it
      // re-sorts with the newly final events
      val (ready, still, wake) =
        finalizeOrder(withNew.finals ++ withNew.open, state)(e => (e._1, e._2))
      val finals = ready.take(9)
      val (emit, done) =
        if (!withNew.done && finals.length == 9)
          (Some(fit(userId, finals)), true)
        else (None, withNew.done)
      // once latched, only the latch survives — the buffers are garbage
      state.update(
        if (done) HoltState(Vector.empty, Vector.empty, done = true)
        else HoltState(still, finals, done = false))
      (emit.iterator, if (done) None else wake)
    }

    eventTimeState(typed, watermark, col("user_id"), col("event_id"),
      expr("CAST(floor(value * 100) AS BIGINT)").as("x"))(update)
  }

  /** Streaming last-touch attribution — the streaming deployment of the
    * batch `win_attribution`: per user, every purchase is credited to
    * the most recent preceding click/view/signup within `windowUs`
    * ('stale' past the window, 'none' if untouched) and emitted as one
    * row when the watermark finalizes it. Events buffer inside the
    * watermark horizon and drain in the (ts_us, event_id) total order —
    * the batch window's order — so out-of-order arrivals within the
    * horizon credit identically to the batch query. State per user is
    * the bounded buffer plus the O(1) carried touch; a drained purchase
    * leaves the buffer, so emission is exactly-once under replay.
    */
  def attributionMonitor(
      typed: DataFrame,
      windowUs: Long = 21600000000L,
      watermark: String = "1 hour"): Dataset[AttribCredit] = {
    val touches = Set("click", "view", "signup")
    val empty = AttribState(Vector.empty, "", 0L, hasTouch = false)

    def update(userId: Long, rows: Iterator[Row],
        state: GroupState[AttribState]): (Iterator[AttribCredit], Option[Long]) = {
      val s = state.getOption.getOrElse(empty)
      val open =
        if (state.hasTimedOut) s.open
        else s.open ++ rows.map(r => (
          r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"),
          r.getAs[String]("event_type"), r.getAs[Long]("cents")))
      val (ready, still, wake) = finalizeOrder(open, state)(e => (e._1, e._2))
      var (tType, tUs, has) = (s.tType, s.tUs, s.hasTouch)
      val out = Seq.newBuilder[AttribCredit]
      ready.foreach { case (ts, id, et, cents) =>
        if (touches(et)) { tType = et; tUs = ts; has = true }
        else if (et == "purchase") {
          val channel =
            if (!has) "none"
            else if (ts - tUs > windowUs) "stale"
            else tType
          out += AttribCredit(userId, id, ts, channel, cents)
        }
      }
      state.update(AttribState(still, tType, tUs, has))
      (out.result().iterator, wake)
    }

    eventTimeState(typed, watermark, col("user_id"), col("event_id"),
      col("event_type"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))(update)
  }

  /** Streaming time-series gap fill — the streaming deployment of the
    * batch `ts_gap_fill` query: per user, one row per hourly bucket,
    * observed buckets carrying the LAST event's value (total order by
    * (ts_us, event_id), the batch representative pick) and gap buckets
    * carrying the previous value forward (LOCF). A bucket emits when
    * the watermark passes its end, so the representative is final —
    * and, matching the batch grid (min..max bucket per user), a gap
    * fills RETROACTIVELY when the next later observation's bucket
    * closes: a user's trailing silence emits nothing, because the grid
    * ends at their last observation. Rows emit exactly once
    * (`lastBucket` advances monotonically).
    *
    * State per user: the open-bucket map — bounded by the watermark
    * horizon over the bucket width (out-of-order arrivals inside the
    * horizon land in ≤ horizon/bucket + 1 buckets) — plus two longs
    * and a double once closed. The O(1) tail persists so a gap of any
    * length fills correctly on the next arrival; production retires
    * dormant users with a TTL on top (noted, not modeled — the
    * fixture fleet is finite).
    */
  def gapFilled(
      typed: DataFrame,
      bucketUs: Long = 3600L * 1000000L,
      watermark: String = "1 hour"): Dataset[GapFillRow] = {
    def update(userId: Long, rows: Iterator[Row],
        state: GroupState[GapFillState]): (Iterator[GapFillRow], Option[Long]) = {
      var s = state.getOption.getOrElse(
        GapFillState(Map.empty, Long.MinValue, 0.0))
      if (!state.hasTimedOut) rows.foreach { r =>
        val (ts, eid, v) =
          (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"),
            r.getAs[Double]("value"))
        val b = ts / bucketUs
        // watermark-late rows for already-closed buckets cannot arrive
        // (that is the watermark contract); guard the boundary anyway
        if (b > s.lastBucket) {
          val keep = s.open.get(b) match {
            case Some((ots, oeid, _)) =>
              ts > ots || (ts == ots && eid > oeid)
            case None => true
          }
          if (keep) s = s.copy(open = s.open.updated(b, (ts, eid, v)))
        }
      }
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val closing = s.open.keys.filter(b => (b + 1) * bucketUs <= wmUs)
        .toSeq.sorted
      val out = Seq.newBuilder[GapFillRow]
      closing.foreach { b =>
        if (s.lastBucket != Long.MinValue)
          ((s.lastBucket + 1) until b).foreach { g =>
            out += GapFillRow(userId, g, s.lastVal, observed = false)
          }
        val v = s.open(b)._3
        out += GapFillRow(userId, b, v, observed = true)
        s = GapFillState(s.open - b, b, v)
      }
      state.update(s)
      // wake when the earliest open bucket's end passes the watermark
      (out.result().iterator,
        if (s.open.isEmpty) None else Some((s.open.keys.min + 1) * bucketUs / 1000L))
    }

    eventTimeState(typed, watermark, col("user_id"), col("event_id"),
      col("value"))(update)
  }

  /** The one canon/retro-link state transition both near-dup variants
    * share (bounded and unbounded MUST not drift — the retro-link
    * subtlety lives here exactly once): fold the batch's ids into the
    * stored band canon, link every id to the post-batch canon, and when
    * a later arrival DEMOTES the stored canon (ids need not arrive
    * ascending) also emit a retro link (oldCanon -> newCanon) so the
    * earlier doc's link set reflects the new canonical; without it BOTH
    * docs would look canonical and the pair would be silently missed.
    */
  private def canonLinks(ids: Array[Long], state: GroupState[BandCanon])
      : Iterator[BandLink] = {
    val prev = state.getOption.map(_.canonDoc)
    val canon = (prev ++ ids).min
    state.update(BandCanon(canon))
    val retro = prev.filter(_ > canon).map(p => BandLink(p, canon))
    ids.iterator.map(id => BandLink(id, canon)) ++ retro.iterator
  }

  /** Streaming NEAR-dup detection (the streaming sibling of
    * `dedup_minhash`): MinHash band signatures computed online with the
    * exact same projection pipeline as the batch operator
    * (`Dedup.bandSignatures` — one signature definition, two modes),
    * then `flatMapGroupsWithState` keyed by (band, band_sig). State per
    * band key is one long — the canonical (lowest) doc_id ever seen for
    * that signature — so a document arriving in a LATER micro-batch that
    * collides with any band of an earlier document links to it. Each
    * input doc emits one `BandLink` per band, and when a later arrival
    * DEMOTES the stored canon (ids need not arrive ascending) a retro
    * link (oldCanon -> newCanon) is emitted too, so the link set stays
    * a forest rooted at true minima. Downstream, a doc whose
    * min(canon_doc) is below its own id is a near-duplicate of that
    * canonical doc (a stateless aggregation the consumer applies — in
    * Append mode a second stateful aggregation cannot follow this one in
    * the same query).
    *
    * Scale/state bound: state is one long per DISTINCT band signature —
    * EVER, because this variant deduplicates against all history, which
    * is only a legitimate configuration for a bounded corpus. The 100 TB
    * deployment is `nearDupLinksBounded`, whose state is
    * O(band signatures inside the watermark horizon).
    */
  def nearDupLinks(docs: DataFrame): Dataset[BandLink] = {
    implicit val stateEnc = Encoders.product[BandCanon]
    implicit val outEnc   = Encoders.product[BandLink]

    def update(key: String, rows: Iterator[Row],
        state: GroupState[BandCanon]): Iterator[BandLink] =
      canonLinks(rows.map(_.getAs[Long]("doc_id")).toArray, state)

    graft.ops.Dedup.bandSignatures(docs)
      .select(col("doc_id"),
        concat_ws(":", col("band"), col("band_sig")).as("band_key"))
      .groupByKey((r: Row) => r.getAs[String]("band_key"))(Encoders.STRING)
      .flatMapGroupsWithState[BandCanon, BandLink](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  /** `nearDupLinks` with state bounded by an event-time horizon — the
    * production configuration for an unbounded stream. `docs` must carry
    * (doc_id, text, ts); a band signature's canon entry is evicted once
    * the watermark passes `last arrival + horizon`, so state is O(band
    * signatures inside the horizon), exactly how the windowed aggregates
    * and the interval join bound theirs. A near-dup arriving beyond the
    * horizon of its original therefore starts a fresh canonical — the
    * deliberate trade (dedup-within-horizon) every watermarked streaming
    * dedup makes; corpus-wide transitivity belongs to the batch
    * `dedup_minhash` + connected-components pass over the sink.
    *
    * It does not run on `eventTimeState`: its watermark is set on the
    * document stream BEFORE `bandSignatures` drops one-token docs and
    * explodes the rest into bands (so every arrival advances it), and
    * its key is the String band key.
    */
  def nearDupLinksBounded(docs: DataFrame, horizonMinutes: Long)
      : Dataset[BandLink] = {
    implicit val stateEnc = Encoders.product[BandCanon]
    implicit val outEnc   = Encoders.product[BandLink]
    val horizonMs = horizonMinutes * 60L * 1000L

    def update(key: String, rows: Iterator[Row],
        state: GroupState[BandCanon]): Iterator[BandLink] = {
      if (state.hasTimedOut) {
        state.remove() // watermark passed the horizon: drop the canon
        Iterator.empty
      } else {
        val rs = rows.toArray
        val links = canonLinks(rs.map(_.getAs[Long]("doc_id")), state)
        // timeout must sit strictly above the current watermark or Spark
        // rejects it (a fully-late band key's horizon already passed)
        val maxTsMs = rs.map(_.getAs[java.sql.Timestamp]("ts").getTime).max
        state.setTimeoutTimestamp(
          math.max(maxTsMs + horizonMs, state.getCurrentWatermarkMs() + 1))
        links
      }
    }

    graft.ops.Dedup
      .bandSignatures(docs.withWatermark("ts", s"$horizonMinutes minutes"),
        carry = Seq("ts"))
      // keep `ts` ITSELF: projecting it away (even to unix_micros) strips
      // the event-time tag EventTimeTimeout requires on its input
      .select(col("doc_id"), col("ts"),
        concat_ws(":", col("band"), col("band_sig")).as("band_key"))
      .groupByKey((r: Row) => r.getAs[String]("band_key"))(Encoders.STRING)
      .flatMapGroupsWithState[BandCanon, BandLink](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** Stream-static dimension enrichment: each micro-batch joins the
    * static dimension by key. Stateless — no streaming state store is
    * involved. The static side's FILE LISTING is captured when the
    * query starts (InMemoryFileIndex caches part-file names), so
    * overwriting the dimension dir in place mid-query fails the stream
    * with missing-file reads — refresh a dimension by writing a NEW
    * versioned dir (`SnapshotStore` is exactly that) and restarting
    * the query, or re-resolve it per batch inside foreachBatch.
    * Left join: an event with no dimension row must pass through with
    * nulls, not vanish (fact streams outlive dimension coverage). The
    * dimension's key column is dropped — only enrichment payload joins
    * the stream schema. Broadcasting is left to the planner: a small
    * dim auto-broadcasts under the threshold; forcing a hint here would
    * pin OOM risk on callers with large dims (the corpus-broadcast
    * lesson, applied to streams).
    */
  def enriched(typed: DataFrame, dim: DataFrame,
               streamKey: String, dimKey: String): DataFrame =
    typed.join(dim, typed(streamKey) === dim(dimKey), "left")
      .drop(dim(dimKey))

  /** Watermarked stream-STREAM interval join: each click joins the
    * views of the same user that happened at most `maxGapMinutes`
    * before it (the streaming sibling of the batch as-of/range joins —
    * inner interval join rather than latest-at-or-before, which is the
    * semantics a stream can answer without waiting forever). BOTH
    * sides carry event-time watermarks and the join condition bounds
    * click_ts relative to view_ts in both directions, which is exactly
    * what lets the state store evict rows once the other side's
    * watermark passes their match window — state is O(watermark
    * horizon × arrival rate) per side, never O(stream length).
    *
    * `joinType` extends the same state machine to `left_outer`: a click
    * whose match window closes with no view EMITS ONCE with null view
    * columns — the "unattributed click" record a funnel needs, produced
    * exactly when the view-side watermark proves no match can still
    * arrive (never early, never withheld forever). Eviction is the same
    * watermark bound; outer state costs nothing extra.
    *
    * `full_outer` completes the outer family: unmatched VIEWS also emit
    * once (null click columns) when the click-side watermark closes
    * their window — the "view that converted nothing" record, the other
    * half of funnel accounting. The emitted `user_id` coalesces across
    * sides so outer rows from either side still carry their key.
    *
    * `left_semi` is the existence filter: clicks that had SOME view in
    * their window, view payload never materialized — the state store
    * can discard a view's columns the moment it proves existence, and
    * the output schema is the click side alone.
    */
  def intervalJoined(clicks: DataFrame, views: DataFrame,
      watermark: String = "1 hour", maxGapMinutes: Long = 30,
      joinType: String = "inner"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val v = views.withWatermark("ts", watermark)
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("ts").as("view_ts"))
    val joined = c.join(v,
        col("user_id") === col("view_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") +
            expr(s"INTERVAL $maxGapMinutes MINUTES"),
        joinType)
    if (joinType == "left_semi")
      joined.select(col("click_id"), col("user_id"), col("click_ts"))
    else
      joined.select(col("click_id"),
        coalesce(col("user_id"), col("view_user")).as("user_id"),
        col("click_ts"), col("view_id"), col("view_ts"))
  }

  /** Streaming curation: the BATCH quality-gate rule ladder applied to
    * a document stream. The ladder (`Curation.withGateReason`) is pure
    * per-row projection, so the exact same code runs in both modes —
    * one rule definition, two execution modes, identical verdicts
    * (StreamingSpec pins stream/batch agreement row-for-row). Kept docs
    * are then exact-deduped on their body hash with
    * `dropDuplicatesWithinWatermark`, so dedup state is O(watermark
    * horizon), matching the bounded-state posture of the near-dup and
    * interval-join paths. Input needs (doc_id, text, source, ts).
    */
  def curatedDocs(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    graft.ops.Curation.withGateReason(docs)
      .filter(col("reason") === "keep")
      .withColumn("body_md5", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("body_md5")
      .select(col("doc_id"), col("source"), col("ts"), col("n_tokens"),
        col("body_md5"))

  /** Streaming RAG splitter: the BATCH chunk projection
    * (`Selection.chunked` — same expression tree, so stream and batch
    * chunk boundaries are identical by construction) applied to a
    * document stream, each chunk keyed `doc_id·10⁶ + chunk_id` so a
    * chunk is a first-class document for every downstream consumer —
    * feed the result to `runSearchIndexIngest` for a chunk-level
    * inverted index or (with an embedding stage) `runAnnIndexIngest`
    * for chunk-level ANN. Stateless and narrow: no watermark needed,
    * no state store, chunking cost rides the ingest scan.
    */
  def chunkedDocs(docs: DataFrame): DataFrame =
    graft.ops.Selection.chunked(docs)
      .withColumn("chunk_key",
        col("doc_id") * lit(1000000L) + col("chunk_id"))

  /** The micro-batch harness every foreachBatch maintainer runs on:
    * drain what `stream` holds now (AvailableNow), checkpointed at
    * `checkpointDir`, calling `body(session, batch, batchId)` once per
    * micro-batch. Delivery is at-least-once; each maintainer makes its
    * commit idempotent on `batchId`.
    */
  private def eachBatch(stream: DataFrame, checkpointDir: String)(
      body: (SparkSession, DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        body(batch.sparkSession, batch, batchId))
      .start()

  /** Continuous upsert into a `SnapshotStore` table: each micro-batch
    * merges on `key` (highest `seqCol` wins within a batch), committed
    * as snapshot version = batchId. foreachBatch delivery is
    * at-least-once; the store's version markers make replays no-ops, so
    * the SNAPSHOT is exactly-once — the streaming sibling of
    * `sink_upsert_merge`, and the pattern that turns a CDC stream into
    * a queryable lake table. With `opCol` set the stream is a full CDC
    * feed: rows with op `'d'` are tombstones that delete their key from
    * the snapshot (streaming sibling of `sink_upsert_delete`) — replays
    * of a delete-carrying batch stay no-ops via the version marker, so
    * exactly-once holds for removals too.
    */
  def runIncrementalUpsert(
      spark: SparkSession,
      stream: DataFrame,
      key: String,
      seqCol: Option[String],
      snapshotDir: String,
      checkpointDir: String,
      opCol: Option[String] = None): StreamingQuery =
    eachBatch(stream, checkpointDir) { (s, batch, batchId) =>
      SnapshotStore.upsertVersion(s, batch, key, seqCol, snapshotDir, batchId,
        opCol = opCol)
    }

  /** Streaming SCD-2 dimension maintenance: each micro-batch of
    * attribute updates is merged into a persistent dimension HISTORY
    * (`Layout.scd2Changes` — change detection, close-and-insert)
    * committed to the bucketed `SnapshotStore` at version = batchId.
    *
    * Exactly-once from at-least-once delivery, the store's standard
    * argument: the batch is first compacted to ONE deterministic image
    * per key (max attribute-struct order — a replay recomputes the
    * identical delta regardless of row order), the effective stamp is
    * the batchId itself, and a replayed batch either no-ops on the
    * version marker or — replayed after a completed commit — detects
    * zero attribute changes against the head it itself wrote and
    * commits an empty delta. Only O(changed keys) rows travel per
    * batch: the closing image of each changed key's current row
    * (rewritten in place via its (key, valid_from) store key) and the
    * newly-opened version; untouched history buckets are never read or
    * rewritten. The history rows carry a `_vkey` = key:valid_from
    * store key because a key's VERSIONS, not keys, are the unit of
    * upsert — readers drop it.
    */
  def runScd2History(
      spark: SparkSession,
      stream: DataFrame,
      key: String,
      attrs: Seq[String],
      snapshotDir: String,
      checkpointDir: String): StreamingQuery =
    eachBatch(stream, checkpointDir) { (s, batch, batchId) =>
      val compacted = batch
        .groupBy(col(key))
        .agg(max(struct(attrs.map(col): _*)).as("_img"))
        .select(col(key) +: attrs.map(a => col(s"_img.$a").as(a)): _*)
      val cur = SnapshotStore.read(s, snapshotDir)
        .map(_.drop("_vkey").filter(col("is_current")))
        .getOrElse(Layout.scd2Init(compacted.limit(0), 0L))
      val changes = Layout
        .scd2Changes(cur, compacted, key, attrs, eff = batchId)
        .withColumn("_vkey",
          concat_ws(":", col(key), col("valid_from")))
      SnapshotStore.upsertVersion(
        s, changes, "_vkey", None, snapshotDir, batchId)
    }

  /** Continuous DEDUP-GATED ingest — the streaming deployment of
    * `dedup_incremental`'s band-index pattern, wired end-to-end: each
    * micro-batch of documents (doc_id, text, …)
    *
    *  1. shingles/hashes only ITSELF (O(batch) narrow work — corpus
    *     text is never re-read),
    *  2. probes the persistent band index (a `SnapshotStore` table) by
    *     (band, band_sig): any collision with an accepted canon rejects
    *     the doc; within the batch the lowest doc_id per bucket wins,
    *  3. commits the surviving docs to the accepted store and MIN-merges
    *     their bands into the index (min-canon, never last-write-wins —
    *     a newer doc must not displace a lower accepted canon),
    *
    * both as snapshot version = batchId, so at-least-once foreachBatch
    * delivery yields an exactly-once corpus AND index. The commit order
    * (accepted first, index second) makes the crash window safe: a
    * replay recomputes the same accept set from the same batch + the
    * same index head, no-ops the accepted store on its marker, and
    * completes the index commit. Rejection is band-level (no exact
    * verify): with 4×16-hex-char bands a collision is a true near-dup
    * to far beyond corpus-size-×-birthday odds — the high-precision
    * regime where the LSH candidate IS the verdict; a deployment
    * wanting exact-Jaccard confirmation fetches ONLY the collided
    * docs' texts (O(collisions), not O(corpus)) before rejecting.
    */
  def runIncrementalDedup(
      spark: SparkSession,
      docs: DataFrame,
      indexDir: String,
      acceptedDir: String,
      checkpointDir: String): StreamingQuery =
    eachBatch(docs, checkpointDir) { (s, batch, batchId) =>
      val b = batch.persist()
      try graft.Materialize.scoped {
        // bands are consumed by the probe, the peer check, and the
        // index merge — stage once
        val bands = graft.Materialize.stage(
          graft.ops.Dedup.bandSignatures(b)
            .withColumn("band_key",
              concat_ws(":", col("band"), col("band_sig"))))
        val stored = SnapshotStore.read(s, indexDir)
        val corpusHit = stored.fold(bands.select(col("doc_id")).limit(0)) {
          idx => bands.join(idx.select(col("band_key")), "band_key")
            .select(col("doc_id"))
        }
        val peerHit = bands.join(
            bands.groupBy(col("band_key")).agg(min(col("doc_id")).as("bmin")),
            "band_key")
          .filter(col("bmin") < col("doc_id"))
          .select(col("doc_id"))
        val rejected = corpusHit.union(peerHit).distinct()
        val accepted = b.join(rejected, Seq("doc_id"), "left_anti")
        SnapshotStore.upsertVersion(
          s, accepted, "doc_id", None, acceptedDir, batchId)
        val newIdx = bands
          .join(rejected, Seq("doc_id"), "left_anti")
          .groupBy(col("band"), col("band_sig"), col("band_key"))
          .agg(min(col("doc_id")).as("canon_doc"))
        val merged = stored.fold(newIdx) { idx =>
          newIdx.join(
              idx.select(col("band_key"), col("canon_doc").as("old_canon")),
              Seq("band_key"), "left")
            .select(col("band"), col("band_sig"), col("band_key"),
              least(col("canon_doc"),
                coalesce(col("old_canon"), col("canon_doc"))).as("canon_doc"))
        }
        SnapshotStore.upsertVersion(
          s, merged, "band_key", None, indexDir, batchId)
      } finally b.unpersist()
    }

  /** Continuous CDC upsert that ALSO maintains a grouped aggregate
    * view incrementally — the live materialized-view loop: each batch
    * commits the table (version = batchId, tombstones honored), then
    * folds exactly that table span into a SECOND snapshot store
    * holding the view, via `SnapshotStore.maintainAgg` — so the view
    * update costs O(view + churned buckets), never a table rescan.
    *
    * Exactly-once across BOTH stores with no cross-store transaction:
    * the view store's version number IS the table version it reflects.
    * A replayed batch no-ops the table on its marker, and `foldView`
    * sees view head == table head and returns. A crash BETWEEN the two
    * commits leaves the view one (or more) versions behind; the next
    * fold maintains across the whole span in one step (maintainAgg
    * spans are multi-version), so the view catches up without special
    * recovery.
    */
  def runIncrementalView(
      spark: SparkSession,
      stream: DataFrame,
      key: String,
      seqCol: Option[String],
      groupCol: String,
      sums: Seq[(String, Column)],
      snapshotDir: String,
      viewDir: String,
      checkpointDir: String,
      opCol: Option[String] = None): StreamingQuery =
    eachBatch(stream, checkpointDir) { (s, batch, batchId) =>
      SnapshotStore.upsertVersion(s, batch, key, seqCol, snapshotDir, batchId,
        opCol = opCol)
      foldView(s, snapshotDir, viewDir, groupCol, sums)
    }

  /** Bring the view store up to the table store's head (idempotent;
    * factored out of `runIncrementalView` so crash/replay windows are
    * directly testable). First fold aggregates the table head in full;
    * every later fold maintains incrementally from churned buckets.
    * The view commits under the TABLE version it reflects, and groups
    * that vanished since the last fold are tombstoned so the view
    * store reads back exactly the true aggregate.
    */
  def foldView(
      spark: SparkSession,
      snapshotDir: String,
      viewDir: String,
      groupCol: String,
      sums: Seq[(String, Column)]): Unit = {
    val tableV = SnapshotStore.latestVersion(spark, snapshotDir).getOrElse(
      return) // nothing committed yet: nothing to fold
    // the view commits under txn = the TABLE version it reflects; a
    // crash window can lag the view several table versions behind, so
    // the view's own version numbers (contiguous by CAS) diverge from
    // its txns — the fold's high-water mark is the recorded txn
    val viewV = SnapshotStore.latestTxn(spark, viewDir)
    if (viewV.contains(tableV)) return // replay: already folded

    // Sum columns widen as they flow through maintainAgg (decimal
    // addition grows precision), but the view STORE's parquet schema
    // must stay stable across versions — pin every decimal sum to
    // precision 38 at its own scale before each commit (values are
    // unchanged; 38 is where Spark's widening saturates anyway).
    def pinned(view: DataFrame): DataFrame = view.select(view.columns.map {
      c =>
        view.schema(c).dataType match {
          case d: org.apache.spark.sql.types.DecimalType =>
            col(c).cast(org.apache.spark.sql.types.DecimalType(38, d.scale)).as(c)
          case _ => col(c)
        }
    }: _*)

    def fullAgg: DataFrame =
      SnapshotStore.readVersion(spark, snapshotDir, tableV)
        .groupBy(col(groupCol))
        .agg(count(lit(1)).as("cnt"),
          sums.map { case (n, e) => sum(e).as(n) }: _*)

    viewV match {
      case None =>
        SnapshotStore.upsertVersion(spark, pinned(fullAgg), groupCol, None,
          viewDir, tableV)
      case Some(v) =>
        val oldView = SnapshotStore.read(spark, viewDir).get
        // A view that lagged past the table's retention window (crash
        // windows deeper than `retain` versions) cannot be maintained
        // incrementally — its span's start manifest is gone. REBUILD
        // from the table head instead: always correct, just not churn-
        // bound; the committed result is identical either way.
        val newView =
          if (SnapshotStore.spanReadable(spark, snapshotDir, v, tableV))
            SnapshotStore.maintainAgg(spark, snapshotDir, v, tableV,
              oldView, Seq(groupCol), sums)
          else fullAgg
        val staged = graft.Materialize.stage(pinned(newView))
        try {
          val upserts = staged.withColumn("_op", lit("u"))
          val tombstones = oldView
            .join(staged.select(col(groupCol)), Seq(groupCol), "left_anti")
            .withColumn("_op", lit("d"))
          SnapshotStore.upsertVersion(spark,
            upserts.unionByName(tombstones), groupCol, None, viewDir,
            tableV, opCol = Some("_op"))
        } finally staged.unpersist(blocking = false)
      }
  }

  /** The incremental ingest: CSV landing dir → typed → parquet sink,
    * exactly-once via checkpoint. Trigger.AvailableNow drains what
    * exists and stops — the batch-cadence deployment of a streaming
    * definition (the reference's weekly DAG becomes a scheduled
    * AvailableNow run with no watermark bookkeeping at all).
    */
  def runIngest(
      spark: SparkSession,
      landingDir: String,
      sinkDir: String,
      checkpointDir: String): StreamingQuery =
    readCsvStream(spark, landingDir)
      .withColumn("event_date", to_date(col("ts")))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .partitionBy("event_date")
      .format("parquet")
      .start(sinkDir)

  /** Streaming ingest into a persistent ANN index (`ops.VectorIndex`):
    * each micro-batch of `(vec_id, embedding)` rows is assigned to its
    * IVF cell under the index's FROZEN quantizer (broadcast centroids —
    * a narrow map) and committed at version = batchId, so an
    * at-least-once replay no-ops on the store's version marker and the
    * index is exactly-once. Per batch only the cells the delta lands in
    * rewrite — O(delta + touched cells), the property that lets a live
    * embedding firehose feed a queryable index continuously. The index
    * must have been `VectorIndex.build`-created before the stream
    * starts (the quantizer is part of the index's identity; creating it
    * mid-stream would race the contract that placement is a pure
    * function of frozen centroids). Batch ids start at 0 but version 0
    * is the build commit, so batch b commits as version b + 1.
    *
    * A mid-stream SOURCE schema change (a restart whose feed gained
    * columns) is absorbed by the fixed projection; to CARRY a new
    * metadata column into the index (filtered ANN), restart with it in
    * `carryCols` and `evolve = true` — old vintages null-fill, probes
    * are unaffected.
    */
  def runAnnIndexIngest(
      spark: SparkSession,
      stream: DataFrame,
      indexDir: String,
      checkpointDir: String,
      carryCols: Seq[String] = Nil,
      evolve: Boolean = false): StreamingQuery =
    eachBatch(stream, checkpointDir) { (s, batch, batchId) =>
      val vecs = batch.select(col("vec_id") +: col("embedding") +:
        expr("sqrt(vec_dot(embedding, embedding))").as("nrm") +:
        carryCols.map(col): _*)
      graft.ops.VectorIndex.ingestVersion(s, vecs, indexDir, batchId + 1, evolve)
    }

  /** Streaming maintenance of a persistent inverted index
    * (`ops.SearchIndex`): each micro-batch of `(doc_id, text[, op])`
    * document CDC commits postings + stats at version = batchId + 1
    * (version 0 is the build), so replays no-op on the store markers
    * and the index is exactly-once. Rows with op `'d'` tombstone the
    * doc's postings (delete-by-reindex: the feed carries the
    * last-indexed text); anything else (re-)indexes the doc. Per batch
    * only the term shards the batch's tokens hash into rewrite.
    */
  def runSearchIndexIngest(
      spark: SparkSession,
      stream: DataFrame,
      indexDir: String,
      checkpointDir: String,
      opCol: Option[String] = None): StreamingQuery =
    eachBatch(stream, checkpointDir) { (s, batch, batchId) =>
      graft.ops.SearchIndex.commitVersion(s, batch, indexDir, batchId + 1, opCol)
    }

  /** Streaming maintenance of the persistent KMV sketch store
    * (`ops.SketchStore`): each micro-batch of (grp, key) rows folds
    * into the store at version batchId+1 — O(delta + touched buckets)
    * per batch, replay no-ops on the version marker, exactly like the
    * ANN and BM25 maintainers. The live distinct-count dashboard reads
    * `SketchStore.estimates` and never touches the raw stream's
    * history.
    */
  def runSketchIngest(
      spark: SparkSession,
      stream: DataFrame,
      storeDir: String,
      checkpointDir: String): StreamingQuery =
    eachBatch(stream, checkpointDir) { (s, batch, batchId) =>
      graft.ops.SketchStore.ingest(s, batch, storeDir, batchId + 1)
    }

  /** Continuous exact-substring SPAN SCRUB — the streaming deployment of
    * `dedup_span_scrub` (Lee et al.'s ExactSubstr pass): each micro-batch
    * of documents (doc_id, text)
    *
    *  1. digests only ITSELF at stride 1 (`Dedup.spanWindows` — the same
    *     projection the batch operator runs, so stream and batch verdicts
    *     are definitionally identical),
    *  2. probes the persistent window-hash index (a `SnapshotStore` table
    *     keyed by the `w`-gram md5, holding each hash's canonical first
    *     occurrence): a window is marked iff its hash is already indexed
    *     (its first occurrence is an earlier committed doc) or an earlier
    *     occurrence exists WITHIN the batch (lexicographic (doc_id, pos)
    *     — the batch operator's total order),
    *  3. scrubs the covered tokens and commits the cleaned docs, then
    *     MIN-merges the batch's first occurrences into the index,
    *
    * both as snapshot version = batchId, so at-least-once foreachBatch
    * delivery yields an exactly-once cleaned corpus AND index (the
    * runIncrementalDedup crash-window argument verbatim: a replay
    * recomputes the same verdicts from the same index head, no-ops the
    * cleaned store on its marker, and completes the index commit).
    *
    * State lives in the store, NOT in flatMapGroupsWithState executor
    * state, deliberately: the decision plane is one row per distinct
    * `w`-gram in the corpus — CORPUS-sized, the exact state class the
    * near-dup family already keeps in its persistent band index — and a
    * watermark-horizon state bound would silently forget old spans and
    * stop catching duplicates of year-old documents, which is the whole
    * point of the pass. Per batch the index read is digest rows only
    * (body bytes never join the probe), and verdicts are prefix-causal:
    * replaying docs in doc_id order reproduces the batch operator's
    * verdicts exactly (StreamingSpec pins this).
    *
    * LIFECYCLE under continuous load: within a generation the store's
    * own retention runs at every commit (loser attempts, crash orphans,
    * and out-of-window bucket dirs are swept — the data-dir count stays
    * bounded by the bucket count at any batch count), and because the
    * index grows monotonically, the stream ROLLS GENERATIONS as it
    * outgrows its bucketing: after each index commit, if the head's
    * mean bucket size exceeds `Knobs.streamScrubMaxBucketBytes`
    * (default 256 MB), the store is `rebucket`ed into the next
    * generation dir (`<indexDir>-g1`, `-g2`, …) at 2× the buckets, and
    * every later batch resolves the live generation via
    * [[scrubIndexGen]] (highest generation with a committed head — a
    * crash mid-roll leaves an uncommitted dir that resolves back to its
    * predecessor and the roll simply re-runs). Probe IO therefore stays
    * one bucket of ~target size at ANY index size. A batch replayed
    * across a roll re-merges into the new generation; the min-merge is
    * idempotent, so content is unaffected (the cleaned store still
    * no-ops on its txn). Old generation dirs stay readable history;
    * drop them once drained.
    */
  def runIncrementalSpanScrub(
      spark: SparkSession,
      docs: DataFrame,
      indexDir: String,
      cleanedDir: String,
      checkpointDir: String,
      w: Int = 10): StreamingQuery =
    eachBatch(docs, checkpointDir) { (s, batch, batchId) =>
      val genDir = scrubIndexGen(s, indexDir)
      val b = batch.persist()
      try graft.Materialize.scoped {
        // windows feed the batch-first aggregate, the mark join, and
        // the index merge — stage once
        val wins = graft.Materialize.stage(
          graft.ops.Dedup.spanWindows(b, w))
        val bFirst = graft.Materialize.stage(wins.groupBy(col("hsh"))
          .agg(min(struct(col("doc_id"), col("pos"))).as("bf")))
        val stored = SnapshotStore.read(s, genDir)
        val seen = stored.fold(
          wins.select(col("hsh")).limit(0).withColumn("seen", lit(true)))(
          idx => idx.select(col("hsh"), lit(true).as("seen")))
        val marked = wins.join(bFirst, "hsh")
          .join(seen, Seq("hsh"), "left")
          .filter(col("seen").isNotNull ||
            struct(col("doc_id"), col("pos")) =!= col("bf"))
          .select(col("doc_id"), col("pos"))
        val cleaned = graft.ops.Dedup.spanRebuild(
          b.select(col("doc_id"), col("text")),
          graft.ops.Dedup.spanCoverage(marked, w))
        SnapshotStore.upsertVersion(
          s, cleaned, "doc_id", None, cleanedDir, batchId)
        // min-merge: a batch's first occurrence enters the index only
        // where it precedes (or introduces) the stored canon — never
        // last-write-wins, same argument as the band index's min-canon
        val newIdx = bFirst.select(col("hsh"),
          col("bf.doc_id").as("first_doc"), col("bf.pos").as("first_pos"))
        val merged = stored.fold(newIdx) { idx =>
          newIdx.join(idx.select(col("hsh"),
              struct(col("first_doc"), col("first_pos")).as("old")),
            Seq("hsh"), "left")
            .select(col("hsh"),
              least(col("old"),
                struct(col("first_doc"), col("first_pos"))).as("m"))
            .select(col("hsh"), col("m.first_doc").as("first_doc"),
              col("m.first_pos").as("first_pos"))
        }
        SnapshotStore.upsertVersion(
          s, merged, "hsh", None, genDir, batchId)
        maybeRollScrubIndex(s, indexDir, genDir)
      } finally b.unpersist()
    }

  /** The live generation of a rolled scrub index: generation 0 is `dir`
    * itself, generation K is `dir-gK`, and the live one is the highest
    * generation with a COMMITTED head — an uncommitted next-gen dir (a
    * crash mid-roll) resolves back to its predecessor, so the roll
    * re-runs instead of stranding the stream on an empty store.
    */
  def scrubIndexGen(spark: SparkSession, dir: String): String = {
    @annotation.tailrec
    def walk(k: Int, live: String): String = {
      val cand = s"$dir-g$k"
      if (SnapshotStore.latestVersion(spark, cand).isDefined)
        walk(k + 1, cand)
      else live
    }
    walk(1, dir)
  }

  /** Roll the scrub index into its next generation (2× buckets) once the
    * head's MEAN bucket size exceeds
    * `Knobs.streamScrubMaxBucketBytes` (default 256 MB) — the
    * monotone-growth counterpart of the store's per-commit retention:
    * retention bounds the data-DIR count at any batch count; the roll
    * bounds the per-bucket (and so per-probe) byte size at any INDEX
    * size. Cost is one full rewrite of the index, paid O(log growth)
    * times over a stream's life (each generation doubles capacity —
    * the k-core compaction telescoping argument). The size probe is
    * ≤ numBuckets filesystem metadata calls against the head manifest's
    * own dirs.
    */
  private def maybeRollScrubIndex(s: SparkSession, base: String,
                                  genDir: String): Unit = {
    val maxBucketBytes = graft.Knobs.streamScrubMaxBucketBytes.get(s)
    SnapshotStore.manifest(s, genDir).foreach { m =>
      val fs = new org.apache.hadoop.fs.Path(genDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val bytes = m.buckets.toSeq.map { case (bId, dn) =>
        try fs.getContentSummary(
          new org.apache.hadoop.fs.Path(s"$genDir/$dn/_bucket=$bId")).getLength
        catch { case _: java.io.IOException => 0L }
      }.sum
      if (bytes > graft.Sizing.satMul(maxBucketBytes, m.numBuckets.toLong)) {
        val curGen =
          if (genDir == base) 0
          else genDir.stripPrefix(s"$base-g").toInt
        SnapshotStore.rebucket(
          s, genDir, s"$base-g${curGen + 1}", "hsh", m.numBuckets * 2)
      }
    }
  }
}
