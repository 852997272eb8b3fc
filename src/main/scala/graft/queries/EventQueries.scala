package graft.queries

import scala.concurrent.duration.DurationInt

import graft.{Q, Tables}
import graft.functions.Portable._
import graft.streaming.{GatedReplay, StreamingOps}
import graft.streaming.GatedReplay.Flush
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time processing over the `events` table (batch form; the streaming
  * twin of sessionize lives in [[graft.streaming.StreamingOps]]).
  *
  * The reference is strictly batch with one hard barrier (reference
  * mapreduce.c:211-214) and has no notion of time; these are the SURVEY §2.2
  * "streaming" row's engine plan, expressed as event-time windowing that runs
  * identically over a bounded table and (with a watermark) over a stream.
  */
object EventQueries {

  /** events with ts normalized: parquet TIMESTAMP(NANOS) is read as a nanos
    * long (see nanosAsLong config in Verify/Bench); expose both epoch-micros
    * (`ts_us`, matches DuckDB `epoch_us(CAST(ts AS TIMESTAMP))` — both
    * truncate ns→us for positive epochs) and a proper TIMESTAMP (`ts_t`). */
  private def events(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "events")
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("ts_t", timestamp_micros(col("ts_us")))

  /** Normalized relation the [[graft.operators.EventOps]] operators take:
    * ts_us (epoch micros) + exact val_cents. */
  private def normalized(s: org.apache.spark.sql.SparkSession, dir: String) =
    events(s, dir).withColumn("val_cents", cents(col("value")))

  /** Watermark movers for the flushed streaming gates: one events-schema
    * row per event type at `ts`, under reserved negative event/user ids the
    * gates filter from their output. */
  private def sentinelEvents(s: SparkSession, types: String*)(ts: Long)
      : DataFrame =
    types.zipWithIndex.map { case (t, i) =>
      s.range(1).select(lit(-1L - i).as("event_id"), lit(ts).as("ts"),
        lit(-1L - i).as("user_id"), lit(t).as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
    }.reduce(_.union(_))

  def queries: Map[String, Q] = Map(
    // tumbling 1-hour windows (EventOps.windowed): one algebraic hash
    // aggregate (count + exact-cents sum), one shuffle.
    "q_event_tumbling" -> { (s, dir) =>
      graft.operators.EventOps.windowed(normalized(s, dir), "1 hour")
        .orderBy("ws_us", "event_type")
    },

    // Journey mining (EventOps.journeys): top first-5-event paths per user
    // — one user_id shuffle + a journey-domain-sized census.
    "q_journeys" -> { (s, dir) =>
      graft.operators.EventOps.journeys(normalized(s, dir), 5, topN = 20)
    },

    // Forward fill (last observation carried forward) — the telemetry
    // gap-fill: a reading is only OBSERVED on purchase events, and every
    // event carries its user's most recent observation. IGNORE NULLS
    // last_value over a user-partitioned running frame: one user_id
    // shuffle, per-user-sized window partitions (never a global window),
    // -1 sentinel before the first observation (mirrored in the oracle so
    // no NULL reaches the hash gate).
    "q_forward_fill" -> { (s, dir) =>
      val ev = normalized(s, dir)
        .withColumn("obs_cents",
          when(col("event_type") === "purchase", col("val_cents")))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(last(col("obs_cents"), ignoreNulls = true).over(w),
            lit(-1L)).as("filled_cents"))
        .orderBy("user_id", "ts_us", "event_id")
    },

    // STREAM-STATIC enrichment join, oracle-gated: the event stream joins
    // the static customer dimension (the broadcast-state pattern — rules /
    // dims / models enriching a stream without any join state, because the
    // static side is re-planned per micro-batch) and accumulates a
    // segment × event-type census in complete mode. The cross-batch claim:
    // batch 2's events must land on batch 1's counts. Hash-checked against
    // the batch join oracle.
    "q_stream_enrich" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val r = GatedReplay(s, "q_stream_enrich")
      val p = GatedReplay.prelude(ev, "ts", 0.5)
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val stream = r.fileStream(ev.schema)
        .withColumn("val_cents", cents(col("value")))
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("val_cents")).as("val_sum_cents"))
      r.memory(stream, "complete", r.split(ev, "ts", p.cuts))
        .orderBy("c_mktsegment", "event_type")
    },

    // Peak concurrent sessions per hour (EventOps.peakConcurrency) over the
    // 30-minute-gap sessions: the sweep line as a distributed prefix sum —
    // per-hour windows over boundary points, then one telemetry-sized
    // window over bucket totals (never a global event-ordered window).
    "q_concurrency" -> { (s, dir) =>
      graft.operators.EventOps.peakConcurrency(
        graft.operators.EventOps.sessionize(normalized(s, dir),
          gapUs = 1800000000L))
    },

    // Event-type transition matrix (the journeys' Markov counterpart):
    // adjacent (from → to) pairs per user stream, counted corpus-wide,
    // with exact-ppm row-conditional probabilities. The lead window
    // partitions by user (bounded); everything after the pair aggregate is
    // |event_types|²-sized, so the ppm window runs over telemetry rows.
    "q_transitions" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val pairs = normalized(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .where(col("nxt").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("nxt").as("to_type"))
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("p_ppm",
          expr("(n * 1000000) div sum(n) over (partition by from_type)"))
        .select(col("from_type"), col("to_type"), col("n"), col("p_ppm"))
        .orderBy("from_type", "to_type")
    },

    // Sequence-pattern matching (the MATCH_RECOGNIZE / CEP shape the funnel
    // and transition queries don't cover): each user's ordered event stream
    // encodes as a one-char-per-event journey string, and conversions are
    // the non-overlapping greedy matches of views→clicks→purchase
    // (`v+c*p`). Regex CEP over an aggregated string beats a per-event NFA
    // join: one user-keyed aggregate, then per-user O(|journey|) matching
    // in a codegen'd expression — no self-joins, no window state. Both
    // engines run leftmost greedy matching (java.util.regex / RE2 agree on
    // this alternation-free pattern). Scale shape: the journey string is
    // per-USER event history — bounded at this fixture; a production run
    // bounds it by session (compose with q_sessionize's keys) so no single
    // string grows fact-sized. array_sort on (ts, id, code) structs makes
    // the aggregation order deterministic under any partitioning.
    "q_pattern_match" -> { (s, dir) =>
      val code = expr("CASE event_type WHEN 'click' THEN 'c' " +
        "WHEN 'error' THEN 'e' WHEN 'purchase' THEN 'p' " +
        "WHEN 'signup' THEN 's' ELSE 'v' END")
      normalized(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          code.as("code"))
        .groupBy(col("user_id"))
        .agg(array_sort(collect_list(
          struct(col("ts_us"), col("event_id"), col("code")))).as("a"))
        .select(col("user_id"),
          concat_ws("", expr("transform(a, x -> x.code)")).as("journey"))
        .select(col("user_id"),
          length(col("journey")).cast("long").as("n_events"),
          expr("regexp_extract_all(journey, 'v+c*p', 0)").as("m"))
        .select(col("user_id"), col("n_events"),
          size(col("m")).cast("long").as("n_conv"),
          coalesce(array_max(expr("transform(m, x -> length(x))")), lit(0))
            .cast("long").as("max_run"))
        .orderBy("user_id")
    },

    // Percentile bands per hour (P50/P95/P99 of the value column) — the
    // latency-dashboard shape. Exact interpolated percentiles on cents
    // share q_outliers' bounded-domain argument: the aggregate buffers a
    // counts-map keyed by distinct cent values (partial→final), so the
    // per-hour group folds map-side regardless of event volume; the
    // approx_percentile twin is the unbounded-domain fallback. Interpolated
    // halves/quarters of integers are exactly representable, so the three
    // doubles hash bit-exactly against quantile_cont.
    "q_event_bands" -> { (s, dir) =>
      normalized(s, dir)
        .groupBy(expr("ts_us div 3600000000").as("hour_id"))
        .agg(count(lit(1)).as("n"),
          percentile(col("val_cents"), lit(0.5)).as("p50_c"),
          percentile(col("val_cents"), lit(0.95)).as("p95_c"),
          percentile(col("val_cents"), lit(0.99)).as("p99_c"))
        .orderBy("hour_id")
    },

    // sliding 1h-every-30min windows: each event lands in exactly 2 windows.
    "q_event_sliding" -> { (s, dir) =>
      graft.operators.EventOps
        .windowed(normalized(s, dir), "1 hour", Some("30 minutes"))
        .orderBy("ws_us", "event_type")
    },

    // The STREAMING path, oracle-gated (not just parity-tested): the same
    // 30-minute sessions produced by the cross-batch
    // flatMapGroupsWithState pipeline (StreamingOps.sessionize) over a
    // file stream split mid-timeline — sessions genuinely span the batch
    // boundary, open sessions flush via event-time timeouts when two
    // far-future sentinel batches advance the watermark. The result table
    // hash-matches the SAME session semantics the batch oracle replays —
    // a driver-checked streaming execution, with the multi-batch machinery
    // otherwise only StreamingSpec exercises.
    "q_stream_sessions" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables(s, dir, "events")
      val r = GatedReplay(s, "q_stream_sessions")
      val p = GatedReplay.prelude(ev, "ts", 0.5)
      val stream = r.fileStream(ev.schema)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("ts_t", timestamp_micros(col("ts_us")))
        .withWatermark("ts_t", "1 second")
        .withColumn("val_cents", cents(col("value")))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("val_cents"), col("ts_t"))
        .as[StreamingOps.Ev]
      // an open session flushes once the watermark passes last + gap
      val plan = StreamingOps.sessionize(stream)
      val flush = Flush(step = 1.hour, reach = 30.minutes)
      r.memory(plan, "append", r.split(ev, "ts", p.cuts) ++
          r.sentinels(plan, flush, p.max)(sentinelEvents(s, "click")))
        .where(col("user_id") >= 0)
        .select(col("user_id"), col("sess_start_us"), col("sess_end_us"),
          col("n_events"), col("val_sum"))
        .orderBy("user_id", "sess_start_us")
    },

    // The same gap sessions through the BUILTIN streaming session_window
    // aggregate — Spark's merging-session state store (window partials
    // merge as gaps close, the watermark evicts and emits in append mode),
    // a genuinely different execution path from q_stream_sessions' custom
    // flatMapGroupsWithState state. Same file-stream recipe, same batch
    // oracle as the batch q_session_window twin: three session engines
    // (window-function batch, custom streaming state, native streaming
    // session windows), one session semantics.
    "q_stream_session_window" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val r = GatedReplay(s, "q_stream_session_window")
      val p = GatedReplay.prelude(ev, "ts", 0.5)
      val agg = r.fileStream(ev.schema)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("ts_t", timestamp_micros(col("ts_us")))
        .withWatermark("ts_t", "1 second")
        .withColumn("val_cents", cents(col("value")))
        // gap = 30 min + 1 µs, NOT 30 min: session_window's window end is
        // EXCLUSIVE (an event at exactly last+gap starts a new session,
        // i.e. splits on delta >= gap), while the shared oracle — and the
        // other two session engines — split on delta > 30 min. Timestamps
        // are integer microseconds, so delta >= 30min+1µs ⟺ delta > 30min:
        // the widened gap makes the exact-30-min boundary identical across
        // all three engines instead of a latent divergence (r12 ADVICE).
        .groupBy(col("user_id"),
          session_window(col("ts_t"), "30 minutes 1 microsecond"))
        .agg(min(col("ts_us")).as("sess_start_us"),
          max(col("ts_us")).as("sess_end_us"),
          count(lit(1)).as("n_events"),
          (sum(col("val_cents")).cast("double") / lit(100.0)).as("val_sum"))
        .select(col("user_id"), col("sess_start_us"), col("sess_end_us"),
          col("n_events"), col("val_sum"))
      val flush = Flush(step = 1.hour, reach = 30.minutes + 1.microsecond)
      r.memory(agg, "append", r.split(ev, "ts", p.cuts) ++
          r.sentinels(agg, flush, p.max)(sentinelEvents(s, "click")))
        .where(col("user_id") >= 0)
        .orderBy("user_id", "sess_start_us")
    },

    // The ARBITRARY-STATE-V2 streaming gate (StreamingOps.topKPerUser):
    // exact per-user top-3 purchase values through transformWithState —
    // typed ValueState via the StatefulProcessorHandle, per-key EVENT-TIME
    // TIMERS (registered at first sight, fired once when the sentinel
    // batches push the watermark past emitAt), RocksDB state store. The
    // k-bounded leaderboard folds across the mid-timeline batch split, so
    // recovery-relevant state genuinely crosses batches; the oracle is the
    // row_number ranking the timer emission replays.
    "q_stream_topk" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables(s, dir, "events")
      val r = GatedReplay(s, "q_stream_topk")
      val p = GatedReplay.prelude(ev, "ts", 0.5)
      val stream = r.fileStream(ev.schema)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("ts_t", timestamp_micros(col("ts_us")))
        .withWatermark("ts_t", "1 second")
        .withColumn("val_cents", cents(col("value")))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("val_cents"), col("ts_t"))
        .as[StreamingOps.Ev]
      // every key's timer fires one minute past the last event
      val emitAtMs = p.max / 1000000L + 60000L
      val flush = Flush(step = 1.hour, reach = 1.minute)
      StreamingOps.withRocksDbState(s) {
        val plan = StreamingOps.topKPerUser(stream, 3, emitAtMs)
        r.memory(plan, "append", r.split(ev, "ts", p.cuts) ++
            r.sentinels(plan, flush, p.max)(sentinelEvents(s, "click")))
      }.where(col("user_id") >= 0)
        .select(col("user_id"), col("rank"), col("val_cents"),
          col("event_id"))
        .orderBy("user_id", "rank")
    },

    // The STREAMING stream-stream join, oracle-gated (the q_stream_sessions
    // recipe): the watermarked attribution join
    // (StreamingOps.attributionJoin) runs over a file stream split
    // mid-timeline, so purchase-click matches genuinely cross the batch
    // boundary through both sides' buffered join state. Inner-join matches
    // emit as they are found (the watermark bounds STATE retention, not
    // emission), so no sentinel flush batches are needed; the result table
    // hash-matches the same interval-join semantics the batch q_event_attrib
    // oracle replays.
    "q_stream_attrib" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val r = GatedReplay(s, "q_stream_attrib")
      val p = GatedReplay.prelude(ev, "ts", 0.5)
      val stream = r.fileStream(ev.schema)
        .withColumn("ts_us", expr("ts div 1000"))
      r.memory(StreamingOps.attributionJoin(stream), "append",
        r.split(ev, "ts", p.cuts))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("click_id"), col("click_ts_us"))
        .orderBy("event_id", "click_id")
    },

    // The TENTH streaming gate: stream-stream LEFT OUTER attribution join
    // (StreamingOps.attributionJoinOuter) — exercises the state-EVICTION
    // half of the join contract the inner gate can't: a purchase with no
    // qualifying click emits its null-extended row only when the WATERMARK
    // closes its match window, not when data arrives. Sentinel batches are
    // far-future click+purchase pairs under reserved negative user_ids (they
    // must pass the event-type filters to advance BOTH sides' watermarks;
    // filtered from the output), after which every real purchase has either
    // matched or provably cannot. Hash-matches the batch LEFT JOIN oracle.
    "q_stream_outer" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val r = GatedReplay(s, "q_stream_outer")
      val p = GatedReplay.prelude(ev, "ts", 0.5)
      val stream = r.fileStream(ev.schema)
        .withColumn("ts_us", expr("ts div 1000"))
      // a purchase's match window spans the hour before it
      val plan = StreamingOps.attributionJoinOuter(stream)
      val flush = Flush(step = 2.hours, reach = 1.hour)
      r.memory(plan, "append", r.split(ev, "ts", p.cuts) ++
          r.sentinels(plan, flush, p.max)(
            sentinelEvents(s, "click", "purchase")))
        .where(col("user_id") >= 0)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("click_id"), col("click_ts_us"))
        .orderBy("event_id", "click_id")
    },

    // STREAM-STREAM FULL OUTER JOIN (StreamingOps.attributionJoinFullOuter
    // — r15 verdict task 7): BOTH sides emit null-extended rows on
    // watermark eviction — an unmatched purchase when its match window
    // closes (the left-outer half) AND an unmatched click once no future
    // purchase can reach back to it (the half no other gate exercises).
    // Same recipe as q_stream_outer: mid-timeline split so matches cross
    // the batch boundary, far-future click+purchase sentinel pairs under
    // reserved negative user_ids advance both watermarks so every real
    // row either matched or provably cannot; sentinels filtered from the
    // output on coalesce of the two (nullable) user columns.
    // Hash-matches the batch FULL OUTER interval-join oracle: a dropped
    // unmatched click, a doubled emission (arrival AND eviction), or a
    // coalesced user column all hash-fail.
    "q_stream_full_outer" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val r = GatedReplay(s, "q_stream_full_outer")
      val p = GatedReplay.prelude(ev, "ts", 0.5)
      val stream = r.fileStream(ev.schema)
        .withColumn("ts_us", expr("ts div 1000"))
      // a click can still match a purchase up to an hour after it
      val plan = StreamingOps.attributionJoinFullOuter(stream)
      val flush = Flush(step = 2.hours, reach = 1.hour)
      r.memory(plan, "append", r.split(ev, "ts", p.cuts) ++
          r.sentinels(plan, flush, p.max)(
            sentinelEvents(s, "click", "purchase")))
        .where(coalesce(col("user_id"), col("c_user")) >= 0)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("click_id"), col("c_user"), col("click_ts_us"))
        .orderBy("event_id", "click_id")
    },

    // The STREAMING watermarked windowed aggregate, oracle-gated (same
    // recipe): StreamingOps.tumblingCounts over the mid-timeline file-stream
    // split. Append mode holds each window's partial state across batches
    // and emits it FINAL only once the watermark passes window end + delay —
    // the time-ordered split guarantees a window never emits before all its
    // events arrived, and two far-future sentinel batches (a reserved
    // event_type, filtered from the output) advance the watermark so the
    // trailing windows flush. Hash-matches the batch q_event_tumbling
    // oracle.
    "q_stream_tumbling" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val r = GatedReplay(s, "q_stream_tumbling")
      val p = GatedReplay.prelude(ev, "ts", 0.5)
      val stream = r.fileStream(ev.schema)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("val_cents", cents(col("value")))
      // 1h watermark delay; the last window closes up to 1h past maxTs
      val plan = StreamingOps.tumblingCounts(stream)
      val flush = Flush(step = 3.hours, reach = 1.hour)
      r.memory(plan, "append", r.split(ev, "ts", p.cuts) ++
          r.sentinels(plan, flush, p.max)(sentinelEvents(s, "_sentinel")))
        .where(col("event_type") =!= "_sentinel")
        .select(col("ws_us"), col("event_type"), col("n"), col("val_sum"))
        .orderBy("ws_us", "event_type")
    },

    // The STREAMING sliding-window path, oracle-gated: the same 1h/30m
    // overlapping windows as batch q_event_sliding, executed incrementally
    // (StreamingOps.slidingCounts) over a mid-timeline file-stream split.
    // Every event updates TWO window states, so window partials genuinely
    // overlap across micro-batches — the state shape tumbling can't
    // exercise; trailing windows flush when the sentinel batches advance
    // the watermark. Hash-matches the batch sliding oracle.
    "q_stream_sliding" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val r = GatedReplay(s, "q_stream_sliding")
      val p = GatedReplay.prelude(ev, "ts", 0.5)
      val stream = r.fileStream(ev.schema)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("val_cents", cents(col("value")))
      // 1h watermark delay; the last 1h window closes up to 1h past maxTs
      val plan = StreamingOps.slidingCounts(stream)
      val flush = Flush(step = 3.hours, reach = 1.hour)
      r.memory(plan, "append", r.split(ev, "ts", p.cuts) ++
          r.sentinels(plan, flush, p.max)(sentinelEvents(s, "_sentinel")))
        .where(col("event_type") =!= "_sentinel")
        .select(col("ws_us"), col("event_type"), col("n"), col("val_sum"))
        .orderBy("ws_us", "event_type")
    },

    // STREAMING materialized-view maintenance, oracle-gated: each
    // micro-batch folds into a keyed per-user-latest snapshot through
    // KvSink.upsert (one full-outer merge per batch — the CDC-apply the
    // batch q_upsert gates, now driven by a stream), writing a versioned
    // snapshot per epoch. Within a batch the user's latest row wins via
    // max_by over a total ordering; across batches the later epoch's
    // upsert overwrites — so the final snapshot must equal the global
    // per-user argmax the oracle computes from the raw table. The
    // (ts, cents) payload rides the 2-column KvSink contract as one
    // packed string, unpacked to typed longs at the output boundary.
    "q_stream_upsert" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val r = GatedReplay(s, "q_stream_upsert")
      // Split on the MICROSECOND value (the payload granularity), not raw
      // nanos: two events sharing a ts_us must land in the same batch, or
      // the cross-epoch blind overwrite could pick the wrong side of an
      // event_id tiebreak that straddles the boundary.
      val p = GatedReplay.prelude(ev, "ts div 1000", 0.5)
      val stream = r.fileStream(ev.schema)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("val_cents", cents(col("value")))
      @volatile var prevSnap: Option[String] = None
      r.run(r.split(ev, "ts div 1000", p.cuts)) {
        stream.writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            val delta = b.groupBy(col("user_id"))
              .agg(max_by(concat_ws("|", col("ts_us"), col("val_cents")),
                struct(col("ts_us"), col("event_id"))).as("last"))
            val base = prevSnap.map(p => s.read.parquet(p)).getOrElse(
              s.range(0).select(col("id").as("user_id"), lit("").as("last")))
            val out = s"${r.dir}/snap/e$id"
            graft.operators.KvSink.upsert(base, delta)
              .write.mode("overwrite").parquet(out)
            prevSnap = Some(out)
          }
          .option("checkpointLocation", s"${r.dir}/ckpt")
          .start()
      }
      s.read.parquet(prevSnap.get)
        .select(col("user_id"),
          split(col("last"), "\\|")(0).cast("long").as("last_ts_us"),
          split(col("last"), "\\|")(1).cast("long").as("last_cents"))
        .orderBy("user_id")
    },

    // The STREAMING exactly-once file sink, oracle-gated: the raw event
    // stream lands in parquet through foreachBatch + the epoch-directory
    // writer (StreamingOps.epochSink) — the bronze-layer ingest every
    // production pipeline runs. After the stream drains, the gate REPLAYS
    // the highest epoch through the same writer (byte-identical to what a
    // restarted query re-delivers after a crash between sink write and
    // checkpoint commit) and asserts the sink is unchanged — the
    // exactly-once claim, pinned as an oracle-checked boolean alongside
    // content equality with the source table.
    "q_stream_sink" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val r = GatedReplay(s, "q_stream_sink")
      val out = s"${r.dir}/out"
      val p = GatedReplay.prelude(ev, "ts", 0.5)
      r.run(r.split(ev, "ts", p.cuts)) {
        r.fileStream(ev.schema).writeStream
          .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
            StreamingOps.epochSink(out)(b, id))
          .option("checkpointLocation", s"${r.dir}/ckpt")
          .start()
      }
      def sinkStats() = s.read.parquet(out).drop("epoch")
        .agg(count(lit(1)), sum(cents(col("value")))).head()
      val before = sinkStats()
      // redelivery: rewrite the highest epoch with its own committed content
      val epochs = new java.io.File(out).listFiles
        .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
        .map(_.getName.stripPrefix("epoch=").toLong)
      val last = epochs.max
      val lastDf = s.read.parquet(s"$out/epoch=$last").localCheckpoint()
      StreamingOps.epochSink(out)(lastDf, last)
      val after = sinkStats()
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("val_cents"))
        .withColumn("replay_idempotent", lit(before == after))
        .orderBy("event_type")
    },

    // 30-minute-gap sessionization per user (EventOps.sessionize), batch
    // window-function form.
    "q_sessionize" -> { (s, dir) =>
      graft.operators.EventOps.sessionize(normalized(s, dir), 1800000000L)
        .orderBy("user_id", "sess_id")
    },

    // Interval-overlap merge (stabbing/coverage consolidation): each event
    // opens a VARIABLE-length interval (60–659 s, derived from event_id so
    // both engines replay it exactly), and overlapping intervals per user
    // consolidate into islands. This is NOT gap sessionization: an early
    // long interval can span several later short ones, so the island break
    // tests ts against the RUNNING MAX of all preceding ends (an O(1)
    // window frame), not the previous row's end — the lag-based rewrite is
    // the classic wrong answer this gate would catch. One user-keyed
    // exchange, constant per-row state: the sweep scales exactly like
    // sessionize at 100 TB.
    "q_interval_merge" -> { (s, dir) =>
      val e = normalized(s, dir).select(col("user_id"), col("event_id"),
        col("ts_us"),
        (col("ts_us") + (pmod(col("event_id"), lit(600)) + 60) * 1000000L)
          .as("end_us"))
      val order = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val prevMax = max(col("end_us"))
        .over(order.rowsBetween(Window.unboundedPreceding, -1))
      val flagged = e.withColumn("new_island",
        when(prevMax.isNull || col("ts_us") > prevMax, 1L).otherwise(0L))
      flagged
        .withColumn("island", sum(col("new_island"))
          .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("ts_us")).as("start_us"), max(col("end_us")).as("end_us"),
          count(lit(1)).as("n_events"))
        .withColumn("covered_us", col("end_us") - col("start_us"))
        .select(col("user_id"), col("island"), col("start_us"),
          col("end_us"), col("covered_us"), col("n_events"))
        .orderBy("user_id", "island")
    },

    // Same gap sessions through Spark's BUILTIN session_window operator —
    // the merging-window aggregate form (one shuffle, partial merge of
    // overlapping windows) vs q_sessionize's window-function form; both are
    // checked against the same session semantics in the oracle.
    "q_session_window" -> { (s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts_t"), "30 minutes"))
        .agg(
          min(col("ts_us")).as("sess_start_us"),
          max(col("ts_us")).as("sess_end_us"),
          count(lit(1)).as("n_events"),
          moneySum(col("value")).as("val_sum"))
        .select(col("user_id"), col("sess_start_us"), col("sess_end_us"),
          col("n_events"), col("val_sum"))
        .orderBy("user_id", "sess_start_us")
    },

    // Resample + gap fill: per-user hourly buckets from the user's first to
    // last event, empty hours zero-filled — the time-series densification
    // step feature pipelines need before windowed models. The bucket grid is
    // generated per user (sequence+explode bounded by the user's own span,
    // never a global calendar cross join) and the fill is one equi-join on
    // (user, bucket).
    "q_resample" -> { (s, dir) =>
      val H = 3600000000L
      val e = normalized(s, dir)
        .select(col("user_id"), col("ts_us"), col("val_cents"))
        .withColumn("hb", expr(s"ts_us div $H"))
      val grid = e.groupBy(col("user_id"))
        .agg(min(col("hb")).as("b0"), max(col("hb")).as("b1"))
        .select(col("user_id"), explode(sequence(col("b0"), col("b1"))).as("hb"))
      val agg = e.groupBy(col("user_id"), col("hb"))
        .agg(count(lit(1)).as("n"), sum(col("val_cents")).as("cents"))
      grid.join(agg, Seq("user_id", "hb"), "left")
        .select(col("user_id"), (col("hb") * lit(H)).as("hour_us"),
          coalesce(col("n"), lit(0L)).as("n"),
          (coalesce(col("cents"), lit(0L)).cast("double") / lit(100.0))
            .as("val_sum"))
        .orderBy("user_id", "hour_us")
    },

    // Attribution interval join: every click within the hour BEFORE each
    // same-user purchase (all candidates, vs q_asof's latest-only). Batch
    // twin of StreamingOps.attributionJoin — the watermarked stream-stream
    // join; StreamingSpec asserts the two produce identical rows. One
    // equi-shuffle on user_id; the time predicate bounds candidates per pair.
    "q_event_attrib" -> { (s, dir) =>
      val e = events(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts_us").as("click_ts_us"))
      p.join(c, col("user_id") === col("c_user")
          && col("click_ts_us") <= col("ts_us")
          && col("click_ts_us") >= col("ts_us") - lit(3600000000L))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("click_id"), col("click_ts_us"))
        .orderBy("event_id", "click_id")
    },

    // JSON column surface: parse props, bucket, aggregate exact ints.
    "q_json_extract" -> { (s, dir) =>
      events(s, dir)
        .select(from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))).getField("k").as("k"),
          col("event_type"))
        .groupBy(pmod(col("k"), lit(10)).cast("long").as("k_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("k_sum"),
          max(col("k")).cast("long").as("k_max"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("k_bucket")
    },

    // Conversion funnel (EventOps.funnel): view → click → purchase, each hop
    // within 24h of the previous bind. One shuffle + per-user state machine
    // vs the oracle's 3-join cascade — same greedy-earliest semantics.
    "q_funnel" -> { (s, dir) =>
      graft.operators.EventOps.funnel(
          events(s, dir).select(col("user_id"), col("event_type"), col("ts_us")),
          Seq("view", "click", "purchase"), windowUs = 86400000000L)
        .orderBy("lvl")
    },

    // SCD2 temporal dimension (EventOps.scd2): each user's props.k change
    // stream becomes versioned validity intervals — one exchange, lag-filter
    // + lead-close sharing it. The latest version stays open (is_current).
    // Incremental re-aggregation — the append-only-metrics pattern at
    // 100 TB: per-day PARTIAL aggregates (count + exact cents sum — both
    // algebraic, hence mergeable without raw data) are persisted write-once
    // per ingest day; the weekly report merges day-sized partials and never
    // rescans events. Late data re-derives only its day's partial.
    "q_reaggregate" -> { (s, dir) =>
      val tmp =
        s"/root/repo/target/tmp/daily_partials-${new java.io.File(dir).getName}"
      graft.sources.Sinks.ensureDir(s, tmp, "v1:day,event_type,n,cents",
        inputs = Seq(s"$dir/events.parquet")) {
        events(s, dir)
          .groupBy(expr("ts_us div 86400000000").as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("c"))
          .write.mode("overwrite").parquet(tmp)
      }
      s.read.parquet(tmp)
        .groupBy(expr("day div 7").as("wk"), col("event_type"))
        .agg(sum(col("n")).as("n_events"),
          (sum(col("c")).cast("double") / lit(100.0)).as("val_sum"))
        .orderBy("wk", "event_type")
    },

    // Cohort retention — the other canonical event-analytics aggregate
    // (alongside funnel/sessionize): users bucketed by first-seen week,
    // counted per weeks-since-cohort offset. Scale shape: (1) per-user
    // first-touch MIN folds partial→final; (2) active (user, week) cells
    // come from a partial→final distinct — both shuffles are keyed on
    // user_id, so AQE plans ONE co-partitioned join between them (no
    // broadcast needed: both sides are user-cardinality, which at 100 TB is
    // billions — the equi-join on the shared key is the right plan); (3)
    // the final (cohort, offset) aggregate lands on a weeks² domain —
    // metadata-sized. Week arithmetic is integer division on micros (no
    // calendar/timezone edge cases to drift between engines).
    "q_retention" -> { (s, dir) =>
      val e = events(s, dir).select(col("user_id"), col("ts_us"))
      val first = e.groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("first_us"))
        .select(col("user_id"),
          expr("first_us div 604800000000").as("cohort_wk"))
      val active = e.select(col("user_id"),
        expr("ts_us div 604800000000").as("wk")).distinct()
      active.join(first, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "offset_wk")
    },

    "q_scd2" -> { (s, dir) =>
      val ch = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
      graft.operators.EventOps
        .scd2(ch, "user_id", "k", "ts_us", "event_id")
        .orderBy("user_id", "valid_from_us")
    },

    // Point-in-time lookup: each purchase joined to the SCD2 version active
    // AT ITS TIMESTAMP — the composition the temporal dimension exists for,
    // and exactly the native as-of operator's backward semantics (greatest
    // valid_from ≤ ts per key; version opens tile the timeline, so the
    // greatest open ≤ ts IS the active interval — no BETWEEN range join,
    // one streaming merge). rightTie = valid_from itself (unique per user:
    // the change stream has no (user, ts) collisions).
    "q_pit_join" -> { (s, dir) =>
      val e = events(s, dir)
      val ch = e.select(col("user_id"), col("event_id"), col("ts_us"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val dim = graft.operators.EventOps
        .scd2(ch, "user_id", "k", "ts_us", "event_id")
        .select(col("user_id").as("d_user"), col("k"),
          col("valid_from_us"))
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      graft.plans.AsOfJoin(p, dim,
          p("user_id"), dim("d_user"),
          p("ts_us"), dim("valid_from_us"), dim("valid_from_us"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("k").as("k_at_purchase"))
        .orderBy("event_id")
    })

  /** Gap-session semantics shared by the batch q_session_window and the
    * native streaming q_stream_session_window gates — the q_sessionize CTE
    * chain re-aggregated without the session ordinal (session_window
    * carries no sess_id). */
  private lazy val sessionWindowSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
       |    ${CENTS("\"value\"")} AS val_cents
       |  FROM events),
       |f AS (
       |  SELECT *, CASE WHEN ts_us - lag(ts_us, 1) OVER w > 1800000000
       |    OR lag(ts_us, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |g AS (
       |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
       |  FROM f)
       |SELECT user_id, min(ts_us) AS sess_start_us, max(ts_us) AS sess_end_us,
       |  COUNT(*) AS n_events, CAST(SUM(val_cents) AS DOUBLE)/100.0 AS val_sum
       |FROM g GROUP BY user_id, sess_id ORDER BY user_id, sess_start_us""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_event_tumbling" ->
      s"""SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS ws_us,
         |  event_type, COUNT(*) AS n, ${MONEY("\"value\"")} AS val_sum
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical window semantics as q_event_sliding: a correct streaming
    // execution with overlapping window state must finish at exactly the
    // batch sliding aggregate (each event lands in its bucket's window and
    // the one 30 minutes earlier).
    "q_stream_sliding" ->
      s"""WITH x AS (
         |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS tb,
         |    event_type, "value" FROM events),
         |w AS (
         |  SELECT tb AS ws, event_type, "value" FROM x
         |  UNION ALL
         |  SELECT tb - INTERVAL '30 minutes' AS ws, event_type, "value" FROM x)
         |SELECT epoch_us(ws) AS ws_us, event_type, COUNT(*) AS n,
         |  ${MONEY("\"value\"")} AS val_sum
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical window semantics as q_event_tumbling: a correct streaming
    // execution must emit exactly the batch aggregate's final windows.
    "q_stream_tumbling" ->
      s"""SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS ws_us,
         |  event_type, COUNT(*) AS n, ${MONEY("\"value\"")} AS val_sum
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_forward_fill" ->
      s"""SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         |  COALESCE(last_value(
         |      CASE WHEN event_type = 'purchase' THEN ${CENTS("\"value\"")} END
         |      IGNORE NULLS) OVER (
         |    PARTITION BY user_id
         |    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
         |    AS filled_cents
         |FROM events
         |ORDER BY user_id, ts_us, event_id""".stripMargin,

    // the maintained snapshot must equal the global per-user argmax.
    "q_stream_upsert" ->
      s"""SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS last_ts_us,
         |  ${CENTS("\"value\"")} AS last_cents
         |FROM events
         |QUALIFY row_number() OVER (
         |  PARTITION BY user_id
         |  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) = 1
         |ORDER BY user_id""".stripMargin,

    // a correct stream-static join + complete-mode census must finish at
    // exactly the batch join's aggregate.
    "q_stream_enrich" ->
      s"""SELECT c_mktsegment, event_type, COUNT(*) AS n,
         |  CAST(SUM(${CENTS("\"value\"")}) AS BIGINT) AS val_sum_cents
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the sink must hold exactly the source table after the epoch replay —
    // the exactly-once boolean rides as oracle-pinned TRUE.
    "q_stream_sink" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(${CENTS("\"value\"")}) AS BIGINT) AS val_cents,
         |  TRUE AS replay_idempotent
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // lead per user mirrors the engine window; ppm is integer floor math.
    "q_transitions" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
         |  FROM events),
         |p AS (
         |  SELECT event_type AS from_type,
         |    lead(event_type, 1) OVER (PARTITION BY user_id
         |      ORDER BY ts_us, event_id) AS to_type
         |  FROM e),
         |c AS (
         |  SELECT from_type, to_type, COUNT(*) AS n FROM p
         |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
         |SELECT from_type, to_type, n,
         |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY from_type)
         |    AS BIGINT) AS p_ppm
         |FROM c ORDER BY from_type, to_type""".stripMargin,

    // same journey encoding, string_agg with the same (ts, id) order, and
    // the same greedy regex — list_max of an empty extract list is NULL in
    // DuckDB as array_max of an empty array is in Spark, coalesced to 0 on
    // both sides.
    "q_pattern_match" ->
      s"""WITH o AS (
         |  SELECT user_id, event_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         |    CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
         |      WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
         |      ELSE 'v' END AS code
         |  FROM events),
         |j AS (
         |  SELECT user_id,
         |    string_agg(code, '' ORDER BY ts_us, event_id) AS journey
         |  FROM o GROUP BY user_id)
         |SELECT user_id, CAST(length(journey) AS BIGINT) AS n_events,
         |  CAST(len(regexp_extract_all(journey, 'v+c*p')) AS BIGINT)
         |    AS n_conv,
         |  CAST(coalesce(list_max(list_transform(
         |    regexp_extract_all(journey, 'v+c*p'), x -> length(x))), 0)
         |    AS BIGINT) AS max_run
         |FROM j ORDER BY user_id""".stripMargin,

    // session intervals replay q_sessionize's CTE chain; the two-phase
    // prefix sum mirrors the engine expression for expression.
    "q_concurrency" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
         |  FROM events),
         |f AS (
         |  SELECT *, CASE WHEN ts_us - lag(ts_us, 1) OVER w > 1800000000
         |    OR lag(ts_us, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |g AS (
         |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS sess_id
         |  FROM f),
         |sess AS (
         |  SELECT min(ts_us) AS s0, max(ts_us) AS s1
         |  FROM g GROUP BY user_id, sess_id),
         |pts AS (
         |  SELECT s0 AS t, CAST(1 AS BIGINT) AS delta FROM sess
         |  UNION ALL SELECT s1 + 1, -1 FROM sess),
         |pb AS (SELECT t, delta, t // 3600000000 AS bucket FROM pts),
         |run AS (
         |  SELECT bucket, delta, SUM(delta) OVER (PARTITION BY bucket
         |    ORDER BY t, delta
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM pb),
         |per AS (
         |  SELECT bucket, CAST(MAX(run) AS BIGINT) AS in_max,
         |    CAST(SUM(delta) AS BIGINT) AS tot
         |  FROM run GROUP BY bucket),
         |cr AS (
         |  SELECT bucket, in_max,
         |    CAST(SUM(tot) OVER (ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      - tot AS carry
         |  FROM per)
         |SELECT bucket AS hour_id,
         |  greatest(carry, carry + in_max) AS peak_concurrent
         |FROM cr ORDER BY hour_id""".stripMargin,

    // string_agg ordered by (ts, event_id) over the row_number<=5 prefix
    // mirrors the sorted-prefix map; top-20 with the same (n desc, journey)
    // tiebreak.
    "q_journeys" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
         |  FROM events),
         |j AS (
         |  SELECT user_id,
         |    string_agg(event_type, '>' ORDER BY rn) AS journey
         |  FROM e WHERE rn <= 5 GROUP BY user_id)
         |SELECT journey, COUNT(*) AS n_users FROM j GROUP BY journey
         |ORDER BY n_users DESC, journey LIMIT 20""".stripMargin,

    "q_event_bands" ->
      s"""SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour_id,
         |  COUNT(*) AS n,
         |  quantile_cont(CAST(${CENTS("\"value\"")} AS DOUBLE), 0.5) AS p50_c,
         |  quantile_cont(CAST(${CENTS("\"value\"")} AS DOUBLE), 0.95) AS p95_c,
         |  quantile_cont(CAST(${CENTS("\"value\"")} AS DOUBLE), 0.99) AS p99_c
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_event_sliding" ->
      s"""WITH x AS (
         |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS tb,
         |    event_type, "value" FROM events),
         |w AS (
         |  SELECT tb AS ws, event_type, "value" FROM x
         |  UNION ALL
         |  SELECT tb - INTERVAL '30 minutes' AS ws, event_type, "value" FROM x)
         |SELECT epoch_us(ws) AS ws_us, event_type, COUNT(*) AS n,
         |  ${MONEY("\"value\"")} AS val_sum
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the batch session oracle minus the per-user ordinal (a stream has no
    // stable sess_id); per-user sessions are disjoint so (user, start) is a
    // unique deterministic order.
    "q_stream_sessions" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         |    ${CENTS("\"value\"")} AS val_cents
         |  FROM events),
         |f AS (
         |  SELECT *, CASE WHEN ts_us - lag(ts_us, 1) OVER w > 1800000000
         |    OR lag(ts_us, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |g AS (
         |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS sess_id
         |  FROM f)
         |SELECT user_id, min(ts_us) AS sess_start_us,
         |  max(ts_us) AS sess_end_us, COUNT(*) AS n_events,
         |  CAST(SUM(val_cents) AS DOUBLE)/100.0 AS val_sum
         |FROM g GROUP BY user_id, sess_id
         |ORDER BY user_id, sess_start_us""".stripMargin,

    "q_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         |    ${CENTS("\"value\"")} AS val_cents
         |  FROM events),
         |f AS (
         |  SELECT *, CASE WHEN ts_us - lag(ts_us, 1) OVER w > 1800000000
         |    OR lag(ts_us, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |g AS (
         |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
         |  FROM f)
         |SELECT user_id, sess_id, min(ts_us) AS sess_start_us,
         |  max(ts_us) AS sess_end_us, COUNT(*) AS n_events,
         |  CAST(SUM(val_cents) AS DOUBLE)/100.0 AS val_sum
         |FROM g GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin,

    // running-max-of-ends island logic, replayed verbatim; the interval
    // length is the same event_id-derived function on both engines.
    "q_interval_merge" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + ((event_id % 600) + 60) * 1000000 AS end_us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN max(end_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR ts_us > max(end_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS new_island
        |  FROM e),
        |g AS (
        |  SELECT *, CAST(SUM(new_island) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS island
        |  FROM f)
        |SELECT user_id, island, MIN(ts_us) AS start_us, MAX(end_us) AS end_us,
        |  MAX(end_us) - MIN(ts_us) AS covered_us, COUNT(*) AS n_events
        |FROM g GROUP BY user_id, island ORDER BY user_id, island""".stripMargin,

    // same gap-session CTE chain as q_sessionize, re-aggregated without the
    // session ordinal (session_window carries no sess_id).
    "q_session_window" -> sessionWindowSql,

    // the native streaming session-window gate replays the identical
    // batch session semantics — same CTE chain as q_session_window
    "q_stream_session_window" -> sessionWindowSql,

    // the timer emission replays this exact ranking (cents desc, id asc)
    "q_stream_topk" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, ${CENTS("\"value\"")} AS val_cents
         |  FROM events),
         |r AS (
         |  SELECT user_id, val_cents, event_id,
         |    CAST(row_number() OVER (PARTITION BY user_id
         |      ORDER BY val_cents DESC, event_id ASC) AS BIGINT) AS rank
         |  FROM e)
         |SELECT user_id, rank, val_cents, event_id FROM r
         |WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin,

    "q_resample" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hb,
         |    ${CENTS("\"value\"")} AS val_cents
         |  FROM events),
         |b AS (SELECT user_id, MIN(hb) AS b0, MAX(hb) AS b1 FROM e GROUP BY 1),
         |g AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS hb FROM b),
         |a AS (SELECT user_id, hb, COUNT(*) AS n,
         |    CAST(SUM(val_cents) AS BIGINT) AS cents
         |  FROM e GROUP BY 1, 2)
         |SELECT g.user_id, g.hb * 3600000000 AS hour_us,
         |  COALESCE(a.n, 0) AS n,
         |  CAST(COALESCE(a.cents, 0) AS DOUBLE)/100.0 AS val_sum
         |FROM g LEFT JOIN a USING (user_id, hb)
         |ORDER BY user_id, hour_us""".stripMargin,

    "q_event_attrib" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         |    event_type FROM events)
         |SELECT p.event_id, p.user_id, p.ts_us,
         |  c.event_id AS click_id, c.ts_us AS click_ts_us
         |FROM e p JOIN e c ON p.user_id = c.user_id
         |  AND p.event_type = 'purchase' AND c.event_type = 'click'
         |  AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000
         |ORDER BY p.event_id, click_id""".stripMargin,

    // identical interval-join semantics as q_event_attrib: a correct
    // streaming execution must emit exactly the batch join's rows.
    "q_stream_attrib" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         |    event_type FROM events)
         |SELECT p.event_id, p.user_id, p.ts_us,
         |  c.event_id AS click_id, c.ts_us AS click_ts_us
         |FROM e p JOIN e c ON p.user_id = c.user_id
         |  AND p.event_type = 'purchase' AND c.event_type = 'click'
         |  AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000
         |ORDER BY p.event_id, click_id""".stripMargin,

    // the LEFT JOIN twin: unmatched purchases must surface exactly once
    // with null click columns — a streaming run that drops them (eviction
    // before emission) or doubles them (emission on arrival AND eviction)
    // hash-fails.
    "q_stream_outer" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         |    event_type FROM events)
         |SELECT p.event_id, p.user_id, p.ts_us,
         |  c.event_id AS click_id, c.ts_us AS click_ts_us
         |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
         |LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
         |  ON p.user_id = c.user_id
         |  AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000
         |ORDER BY p.event_id, click_id""".stripMargin,

    // the FULL OUTER twin: unmatched rows on BOTH sides surface exactly
    // once with the other side's columns null — a streaming run that
    // drops unmatched clicks, doubles an emission, or coalesces the two
    // user columns hash-fails.
    "q_stream_full_outer" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         |    event_type FROM events)
         |SELECT p.event_id, p.user_id, p.ts_us,
         |  c.event_id AS click_id, c.user_id AS c_user,
         |  c.ts_us AS click_ts_us
         |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
         |FULL OUTER JOIN (SELECT * FROM e WHERE event_type = 'click') c
         |  ON p.user_id = c.user_id
         |  AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000
         |ORDER BY p.event_id NULLS FIRST, click_id NULLS FIRST""".stripMargin,

    "q_json_extract" ->
      s"""WITH e AS (
         |  SELECT CAST(json_extract_string(props, '$$.k') AS INT) AS k, event_type
         |  FROM events)
         |SELECT CAST(k % 10 AS BIGINT) AS k_bucket, COUNT(*) AS n,
         |  CAST(SUM(k) AS BIGINT) AS k_sum, CAST(max(k) AS BIGINT) AS k_max,
         |  COUNT(DISTINCT event_type) AS n_types
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    // nested conditional mins = the funnel's greedy-earliest binds: each
    // stage joins on the previous stage's bind time and keeps the earliest
    // qualifying event within the window.
    "q_funnel" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
         |  FROM events),
         |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
         |  WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING(user_id)
         |  WHERE event_type = 'click' AND ts_us > t1
         |    AND ts_us <= t1 + 86400000000 GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING(user_id)
         |  WHERE event_type = 'purchase' AND ts_us > t2
         |    AND ts_us <= t2 + 86400000000 GROUP BY 1)
         |SELECT stage, lvl, n_users FROM (
         |  SELECT 'view' AS stage, CAST(1 AS BIGINT) AS lvl,
         |    (SELECT COUNT(*) FROM s1) AS n_users
         |  UNION ALL SELECT 'click', 2, (SELECT COUNT(*) FROM s2)
         |  UNION ALL SELECT 'purchase', 3, (SELECT COUNT(*) FROM s3))
         |ORDER BY lvl""".stripMargin,

    "q_reaggregate" ->
      s"""WITH e AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         |    event_type, ${CENTS("\"value\"")} AS c
         |  FROM events)
         |SELECT day // 7 AS wk, event_type, COUNT(*) AS n_events,
         |  CAST(SUM(c) AS DOUBLE) / 100.0 AS val_sum
         |FROM e GROUP BY 1, 2 ORDER BY wk, event_type""".stripMargin,

    "q_retention" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
         |f AS (
         |  SELECT user_id, MIN(ts_us) // 604800000000 AS cohort_wk
         |  FROM e GROUP BY user_id),
         |a AS (SELECT DISTINCT user_id, ts_us // 604800000000 AS wk FROM e)
         |SELECT f.cohort_wk, a.wk - f.cohort_wk AS offset_wk,
         |  COUNT(*) AS n_users
         |FROM a JOIN f USING (user_id)
         |GROUP BY 1, 2 ORDER BY cohort_wk, offset_wk""".stripMargin,

    "q_scd2" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |  FROM events),
         |ch AS (
         |  SELECT * FROM (
         |    SELECT user_id, event_id, ts_us, k,
         |      lag(k) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS pk,
         |      lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |        AS pts
         |    FROM e)
         |  WHERE pts IS NULL OR (pk IS DISTINCT FROM k)),
         |iv AS (
         |  SELECT user_id, k, ts_us AS valid_from_us,
         |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |      AS valid_to_us
         |  FROM ch)
         |SELECT user_id, k, valid_from_us, valid_to_us,
         |  (valid_to_us IS NULL) AS is_current
         |FROM iv ORDER BY user_id, valid_from_us""".stripMargin,

    "q_pit_join" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |  FROM events),
         |ch AS (
         |  SELECT * FROM (
         |    SELECT user_id, event_id, ts_us, k,
         |      lag(k) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS pk,
         |      lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |        AS pts
         |    FROM e)
         |  WHERE pts IS NULL OR (pk IS DISTINCT FROM k)),
         |p AS (SELECT event_id, user_id, ts_us FROM e
         |      WHERE event_type = 'purchase')
         |SELECT event_id, user_id, ts_us, k AS k_at_purchase FROM (
         |  SELECT p.event_id, p.user_id, p.ts_us, ch.k,
         |    row_number() OVER (PARTITION BY p.event_id
         |      ORDER BY ch.ts_us DESC) AS rn
         |  FROM p JOIN ch ON p.user_id = ch.user_id AND ch.ts_us <= p.ts_us)
         |WHERE rn = 1 ORDER BY event_id""".stripMargin)
}
