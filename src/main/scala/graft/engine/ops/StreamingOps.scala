package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.Trigger

import graft.engine.{QueryDef, Tables}

/**
 * Streaming surface (SURVEY §2.8). The events table is the stream; q39–q41
 * are the batch twins of tumbling/sliding/session windows (oracle-carried),
 * q42 runs TRUE Structured Streaming (file source → watermark → windowed
 * agg → memory sink, Trigger.AvailableNow) and returns the finalized result.
 *
 * On a cluster the same code runs continuously against arriving files; the
 * state store partitions by group key, so scale-out is the shuffle
 * partitioning — no code change.
 */
object StreamingOps {

  /** State-store/shuffle partition count for the stateful stream keys,
    * sized to the STATE volume, not the corpus (the CC shufflePartitions
    * principle).
    *
    * A stateful query's state partitioning = `spark.sql.shuffle.partitions`
    * at FIRST batch (then pinned in the checkpoint). Every micro-batch
    * commits every state store partition (the interval join keeps 4 stores
    * per partition), so an oversized count is pure fixed overhead per batch
    * — empty state-store tasks still pay scheduling and commit — and an
    * undersized one caps parallelism at scale. It is therefore a
    * deliberate setting, not an inherited batch one: sized here for the
    * local bench volume; a 100 TB deployment sets it to O(executor cores)
    * once at checkpoint creation, and it goes UP with the state like any
    * shuffle. Measured: r06 on the q85 shape at sf0.1, warm, 8 parts
    * 2.7 s, 4 parts 1.9 s, 2 parts 1.8 s, so 8→4; r07 4→2 (per-query wall
    * 2.2→2.0 s; state at sf0.1 is a few thousand rows). */
  private val StatePartitions = 2

  /** Run `stream` to completion with one `AvailableNow` trigger, handing
    * every micro-batch to `perBatch`, with the shuffle partitions held at
    * [[StatePartitions]] for the whole run. */
  private def runAvailableNow(s: SparkSession, stream: DataFrame, outputMode: String)(
      perBatch: DataFrame => Unit): Unit = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    try stream.writeStream
      .outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, _: Long) => perBatch(batch) }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Drain `stream` into a parquet sink with [[runAvailableNow]], then read
    * the sink back. Every micro-batch is appended in append/update mode and
    * overwritten in complete mode (which re-emits the whole result each
    * batch).
    *
    * The write is unconditional (r08): `isEmpty` executed the batch plan
    * once and the guarded write re-executed it — inside foreachBatch each
    * action re-runs the micro-batch plan (state reads included), so the
    * EMITTING batch paid its state flush twice (StreamProbe: no-data
    * finalization batch ~2x). An empty write costs one empty part file and
    * also guarantees the sink dir exists even when nothing is emitted.
    *
    * The read-back passes the stream's own schema — the schema every batch
    * was written with — so no Spark job infers it from the part files. */
  private def drainToParquet(s: SparkSession, key: String, stream: DataFrame,
                             outputMode: String): DataFrame = {
    val target = java.nio.file.Files.createTempDirectory(s"${key}_sink").toString + "/out"
    val writeMode = if (outputMode == "complete") "overwrite" else "append"
    runAvailableNow(s, stream, outputMode)(_.write.mode(writeMode).parquet(target))
    s.read.schema(stream.schema).parquet(target)
  }

  // --- q39: tumbling 1 h window counts ------------------------------------
  private val q39 = QueryDef(
    "q39_stream_tumbling",
    """SELECT date_trunc('hour', ts) AS wstart, event_type, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
      .orderBy("wstart", "event_type")
  }

  // --- q40: sliding 1 h window, 30 min step -------------------------------
  // Each event lands in exactly 2 windows (:00-anchored and :30-anchored);
  // the oracle unions the two shifted bucketizations.
  private val q40 = QueryDef(
    "q40_stream_sliding",
    """SELECT wstart, event_type, COUNT(*) AS n FROM (
      |  SELECT date_trunc('hour', ts) AS wstart, event_type FROM events
      |  UNION ALL
      |  SELECT date_trunc('hour', ts - INTERVAL 30 MINUTE) + INTERVAL 30 MINUTE, event_type FROM events) t
      |GROUP BY wstart, event_type ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
      .orderBy("wstart", "event_type")
  }

  // --- q41: session windows (10 min gap) per user -------------------------
  // Batch twin via gaps-and-islands: strictly-greater-than-gap starts a new
  // session; session id = running count of starts. Two window passes over
  // ONE shuffle on user_id (same partitioning reused), then one groupBy.
  private val q41 = QueryDef(
    "q41_stream_session",
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM e)
      |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
      |  CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT) AS dur_s
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start LIMIT 500""".stripMargin) { (s, dir) =>
    graft.operators.Sessionize
      .summarize(Tables.table(s, dir, "events").select("user_id", "event_id", "ts"),
        keyCol = "user_id", tsCol = "ts", gapSeconds = 600, tiebreak = "event_id")
      .select("user_id", "session_start", "n_events", "dur_s")
      .orderBy("user_id", "session_start").limit(500)
  }

  // --- q42: TRUE Structured Streaming run (watermark dedup) ---------------
  // File source over the events parquet → watermark → dedup-within-watermark
  // → tumbling-window agg → APPEND-mode foreachBatch parquet sink, drained
  // with Trigger.AvailableNow. Append + watermark is the 100 TB-correct
  // shape: each window is emitted exactly once when the watermark passes it
  // and its state is dropped — a memory sink (or complete mode) would
  // re-materialize the entire history in the driver every batch.
  //
  // Every event is DELIVERED TWICE (r04): event_id is unique in the
  // table, so on the raw file the dedup would never fire and the
  // equals-q39 test would hold even with dropDuplicates broken. The
  // duplication simulates at-least-once delivery — exactly the failure
  // mode watermark dedup exists for — so equality with q39 PROVES the
  // duplicates were dropped (a broken dedup doubles every n).
  //
  // HOW it duplicates changed in r17 (VERDICT r16 #2): the r04 shape was
  // `def src; src.union(src)` — `def` built TWO FileStreamSource
  // instances, each with its own directory listing, offset-log entry and
  // getBatch scan per micro-batch. The r17 A/B (ROUND17.md) ran three
  // shapes at sf0.1 (interleaved, 4 reps, same window): two-source union
  // 3.36 s median / one-source self-union 3.52 s / in-plan explode
  // duplication 3.03 s, identical output rows — explode won every rep.
  // One source +
  // explode(array(0,1)) keeps the every-event-arrives-twice property
  // feeding the dedup while halving source bookkeeping; at 100 TB the
  // same change halves the listing/offset I/O of an at-least-once
  // replay test harness.
  //
  // Oracle (r04-end): on static AvailableNow input the emitted set is
  // DETERMINISTIC — exactly the tumbling windows the final watermark
  // (max ts − 1 h) finalized, with duplicate-free counts. That is the
  // q105/q85 finalized-windows recipe, so the last stream-runtime query
  // joins the oracle-carrying set; a broken dedup (doubled counts), a
  // broken watermark (extra/missing windows), or a leaked non-finalized
  // window all fail the hash.
  private val q42 = QueryDef(
    "q42_stream_watermark_dedup",
    """WITH mx AS (SELECT MAX(ts) AS mt FROM events),
      |w AS (SELECT date_trunc('hour', ts) AS wstart, event_type, COUNT(*) AS n
      |      FROM events GROUP BY 1, 2)
      |SELECT wstart, event_type, n FROM w, mx
      |WHERE wstart + INTERVAL 1 HOUR <= mt - INTERVAL 1 HOUR
      |ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
    // Schema-adaptive events source (r06): all streaming sites share
    // Tables.eventsStream, so a physical ts-encoding change is handled in
    // exactly one place (see Tables.normalize).
    val stream = Tables.eventsStream(s, dir)
      .withColumn("dup__", explode(array(lit(0), lit(1))))
      .drop("dup__")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
    drainToParquet(s, "q42", stream, "append").orderBy("wstart", "event_type")
  }

  // --- q53: custom streaming state via flatMapGroupsWithState -------------
  // Per-user running aggregate (count + latest ts) held in GroupState — the
  // API for state machines Spark's built-in aggregates can't express. The
  // static input arrives as ONE file → one micro-batch → exactly one
  // emission per user, so the result is oracle-comparable to a plain
  // GROUP BY. State partitions by group key: scale-out = shuffle
  // partitioning, no code change.
  private val q53 = QueryDef(
    "q53_stream_stateful",
    """SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = s
    import spark.implicits._
    val perUser = Tables.eventsStream(s, dir)
      .selectExpr("user_id", "unix_micros(ts) AS ts_us")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, last0) = state.getOption.getOrElse((0L, Long.MinValue))
          var n = n0
          var last = last0
          rows.foreach { case (_, ts) => n += 1; if (ts > last) last = ts }
          state.update((n, last))
          Iterator((user, n, last))
      }
    // foreachBatch parquet sink (not memory): update-mode emissions append
    // per batch — at 100 TB the driver never materializes the result; here
    // the single static batch yields exactly one row per user.
    drainToParquet(s, "q53", perUser.toDF("user_id", "n_events", "last_us"), "update")
      .select(col("user_id"), col("n_events"),
        timestamp_micros(col("last_us")).as("last_ts"))
      .orderBy("user_id")
  }

  // --- q56: TRUE stream-stream interval join ------------------------------
  // Purchases joined to the same user's views from the preceding hour: ONE
  // watermarked file-source stream split into two filtered branches (not
  // two independent scans), event-time range condition (bounds the join
  // state), append-mode foreachBatch parquet sink (a memory sink would
  // materialize the full join result in the driver — a collect in
  // disguise). Single-batch static input ⇒ result equals the batch
  // interval join, so the oracle carries it.
  private val q56 = QueryDef(
    "q56_stream_interval_join",
    """SELECT p.event_id AS purchase_id, v.event_id AS view_id
      |FROM events p JOIN events v
      |  ON p.event_type = 'purchase' AND v.event_type = 'view'
      | AND p.user_id = v.user_id
      | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
      |ORDER BY purchase_id, view_id LIMIT 500""".stripMargin) { (s, dir) =>
    val src = Tables.eventsStream(s, dir)
    def branch(kind: String, alias: String) = src
      .where(col("event_type") === kind)
      .select(col("event_id").as(s"${alias}_event_id"),
        col("user_id").as(s"${alias}_user_id"), col("ts").as(s"${alias}_ts"))
      .withWatermark(s"${alias}_ts", "1 hour")
    val joined = branch("purchase", "p").join(branch("view", "v"),
      col("p_user_id") === col("v_user_id")
        && col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
        && col("v_ts") < col("p_ts"))
      .select(col("p_event_id").as("purchase_id"), col("v_event_id").as("view_id"))
    drainToParquet(s, "q56", joined, "append").orderBy("purchase_id", "view_id").limit(500)
  }

  // --- q61: foreachBatch sink --------------------------------------------
  // The programmable sink surface: each micro-batch of the complete-mode
  // aggregation overwrites a parquet target; after AvailableNow drains, the
  // target holds the full result — oracle = the tumbling-count GROUP BY.
  //
  // DOCUMENTED EXCEPTION (SCALING.md "complete mode re-emits history every
  // batch"): complete mode is demonstrated HERE, deliberately, because the
  // complete-mode foreachBatch surface is this query's subject — and only
  // here. It keeps all window state forever and rewrites the whole result
  // per batch, so it does not bound state over an unbounded stream; the
  // scale-safe shape for that workload is q73's update-mode emission merged
  // via MergeUpsert (touched-bucket rewrite), or q42's watermark + append.
  private val q61 = QueryDef(
    "q61_stream_foreachbatch",
    """SELECT date_trunc('hour', ts) AS wstart, event_type, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
    val agg = Tables.eventsStream(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
    drainToParquet(s, "q61", agg, "complete").orderBy("wstart", "event_type")
  }

  // --- q73: stream-static enrichment join ---------------------------------
  // The most common production streaming shape: a stream enriched against a
  // static (batch) dimension — here a per-user profile derived from the
  // same events table, joined onto the streaming events, then aggregated.
  // The static side is planned as an ordinary batch subtree (broadcast
  // here; at 100 TB a shuffled or bucketed join) and re-evaluated per
  // micro-batch; no stream-stream state is kept at all — that's the point
  // of the shape. Single-batch static input ⇒ equals the batch join, so
  // the oracle carries it.
  //
  // Sink (r03, VERDICT r02 #1): UPDATE-mode emission — each micro-batch
  // emits only the keys whose aggregate changed — merged into a bucketed
  // parquet target by MergeUpsert, which rewrites only the touched
  // buckets (never the snapshot). The r02 complete-mode sink rewrote the
  // ENTIRE result every batch: unbounded rewrite volume at 100 TB.
  // MergeUpsertSpec + StreamingSpec assert the bounded-rewrite property.
  private val q73 = QueryDef(
    "q73_stream_static_join",
    """WITH profile AS (
      |  SELECT user_id, COUNT(*) AS profile_n FROM events GROUP BY user_id)
      |SELECT e.user_id, COUNT(*) AS n_events, MIN(p.profile_n) AS profile_n
      |FROM events e JOIN profile p ON e.user_id = p.user_id
      |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin) { (s, dir) =>
    val profile = Tables.table(s, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("profile_n"))
      .withColumnRenamed("user_id", "p_user_id")
    val enriched = Tables.eventsStream(s, dir)
      .join(broadcast(profile), col("user_id") === col("p_user_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), min(col("profile_n")).as("profile_n"))
    val target = java.nio.file.Files.createTempDirectory("q73_sink").toString + "/out"
    runAvailableNow(s, enriched, "update") { batch =>
      // Here the empty-batch guard must stay (an empty upsert would still
      // rewrite every touched bucket), so persist the batch to keep the
      // guard + upsert at ONE plan execution (r08; inside foreachBatch each
      // action otherwise re-runs the micro-batch plan, state reads included).
      batch.persist()
      try {
        if (!batch.isEmpty)
          graft.operators.MergeUpsert.upsertBatch(
            batch.sparkSession, target, batch, Seq("user_id"), numBuckets = 16)
      } finally batch.unpersist()
    }
    graft.operators.MergeUpsert.snapshot(s, target).orderBy("user_id")
  }

  // --- q93: TRUE stream-stream LEFT OUTER interval join -------------------
  // q56's shape with outer semantics — the production question "which
  // purchases had NO preceding view?". Matches stream out like the inner
  // join; a null-extended row for an unmatched purchase is emitted only
  // once the left row leaves the join state. Eviction is NOT at the raw
  // watermark: Spark derives the left-state retention from the join
  // condition (`v_ts >= p_ts - 1h` ⇒ a purchase stays joinable for the
  // 1 h interval), so the null row for an unmatched purchase emits once
  // `p_ts < watermark - 1h = max_ts - 2h` (measured at sf0.001: an
  // unmatched purchase 47 min inside the watermark stayed in state).
  // On static input that set is deterministic — the oracle below; strict
  // `<` at the boundary is unobservable (µs timestamps, no fixture row on
  // it — same boundary-convention class as q42/q85). view_id coalesced to
  // −1 so ORDER BY/LIMIT truncation is engine-agnostic under either
  // NULLS ordering.
  private val q93 = QueryDef(
    "q93_stream_outer_interval_join",
    """WITH j AS (
      |  SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.ts AS pts
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |    ON p.user_id = v.user_id
      |   AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts)
      |SELECT purchase_id, COALESCE(view_id, -1) AS view_id FROM j
      |WHERE view_id IS NOT NULL
      |   OR pts < (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
      |ORDER BY purchase_id, view_id LIMIT 500""".stripMargin) { (s, dir) =>
    val src = Tables.eventsStream(s, dir)
    def branch(kind: String, alias: String) = src
      .where(col("event_type") === kind)
      .select(col("event_id").as(s"${alias}_event_id"),
        col("user_id").as(s"${alias}_user_id"), col("ts").as(s"${alias}_ts"))
      .withWatermark(s"${alias}_ts", "1 hour")
    val joined = branch("purchase", "p").join(branch("view", "v"),
      col("p_user_id") === col("v_user_id")
        && col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
        && col("v_ts") < col("p_ts"),
      "leftOuter")
      .select(col("p_event_id").as("purchase_id"),
        coalesce(col("v_event_id"), lit(-1L)).as("view_id"))
    drainToParquet(s, "q93", joined, "append").orderBy("purchase_id", "view_id").limit(500)
  }

  // --- q82: time-series resample to an hourly grid + forward fill ---------
  // The gap-filling shape time-series pipelines need: per-entity values on
  // a REGULAR grid, holes filled with the last observation. Hourly value =
  // the event with the max event_id in that hour (unique id ⇒ unambiguous
  // rule both engines share); grid = the full hourly span cross-joined
  // with the entities; ffill = last-non-null over an ordered window. One
  // window shuffle on user_id; the grid explode is metadata-sized.
  private val q82 = QueryDef(
    "q82_resample_ffill",
    """WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS hour, event_id, value
      |  FROM events WHERE user_id <= 3),
      |hourly AS (SELECT user_id, hour, arg_max(value, event_id) AS v
      |  FROM ev GROUP BY 1, 2),
      |bounds AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM ev),
      |grid AS (SELECT u.user_id, g.hour
      |  FROM (SELECT DISTINCT user_id FROM ev) u
      |  CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |              FROM bounds) g)
      |SELECT g.user_id, g.hour,
      |  LAST_VALUE(h.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.hour) AS v_ffill
      |FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
      |ORDER BY g.user_id, g.hour LIMIT 2000""".stripMargin) { (s, dir) =>
    val ev = Tables.table(s, dir, "events")
      .where(col("user_id") <= 3)
      .withColumn("hour", date_trunc("hour", col("ts")))
    val hourly = ev.groupBy("user_id", "hour")
      .agg(expr("max_by(value, event_id)").as("v"))
    val grid = ev.agg(min("hour").as("h0"), max("hour").as("h1"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      .crossJoin(ev.select("user_id").distinct())
    val w = Window.partitionBy("user_id").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .withColumn("v_ffill", last(col("v"), ignoreNulls = true).over(w))
      .select("user_id", "hour", "v_ffill")
      .orderBy("user_id", "hour").limit(2000)
  }

  // --- q85: TRUE streaming session windows (native session_window) --------
  // q41's gaps-and-islands is the batch twin; this is the streaming path:
  // session_window(ts, gap) + watermark merges per-key state incrementally
  // and emits each session once the watermark passes its close. Boundary
  // semantics differ from Sessionize by design (session_window starts a new
  // session at diff == gap, i.e. `>=`; the batch twin keeps it).
  //
  // Oracle (r03, VERDICT r02 #3): on static input the emitted set IS
  // deterministic — exactly the sessions the final watermark
  // (max ts − 1 h) finalized, i.e. those whose close (last event + gap)
  // is ≤ the watermark. The oracle is q41's gaps-and-islands SQL with the
  // `>=` boundary rule, restricted to watermark-finalized sessions.
  private val q85 = QueryDef(
    "q85_stream_session_native",
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM e),
      |g AS (
      |  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_last,
      |         COUNT(*) AS n_events
      |  FROM s GROUP BY user_id, sid)
      |SELECT session_start, user_id, n_events FROM g
      |WHERE session_last + INTERVAL 10 MINUTE
      |      <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
      |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    val sessions = Tables.eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))
    drainToParquet(s, "q85", sessions, "append").orderBy("user_id", "session_start")
  }

  // --- q94: per-event session-relative features ---------------------------
  // The feature-engineering twin of q41: every EVENT keeps its row and
  // gains session-relative features (session id, index within session,
  // seconds since session start) — the shape that feeds sequence models.
  // Sessionize.byGap (two window passes over one shuffle — per-row ids
  // genuinely need both) + one more window family over (key, session_id),
  // which reuses the same hash partitioning (user_id is a prefix).
  private val q94 = QueryDef(
    "q94_session_features",
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events WHERE user_id <= 10
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM e)
      |SELECT user_id, event_id, session_id,
      |  ROW_NUMBER() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS event_idx,
      |  CAST((epoch_us(ts) - epoch_us(MIN(ts) OVER (PARTITION BY user_id, session_id)))
      |       // 1000000 AS BIGINT) AS elapsed_s
      |FROM s ORDER BY user_id, event_id LIMIT 1000""".stripMargin) { (s, dir) =>
    val sessions = graft.operators.Sessionize.byGap(
      Tables.table(s, dir, "events").where(col("user_id") <= 10)
        .select("user_id", "event_id", "ts"),
      keyCol = "user_id", tsCol = "ts", gapSeconds = 600, tiebreak = "event_id")
    val w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    sessions
      .select(col("user_id"), col("event_id"), col("session_id"),
        row_number().over(w).as("event_idx"),
        ((unix_micros(col("ts")) - unix_micros(min(col("ts")).over(w)))
          / lit(1000000L)).cast("bigint").as("elapsed_s"))
      .orderBy("user_id", "event_id").limit(1000)
  }

  // --- q98: interval RANGE window frame (trailing 1 h per event) ----------
  // The event-time sliding aggregate per ROW (not per fixed window): count
  // of the user's events in the trailing hour, via a RANGE frame bounded
  // by an INTERVAL. RANGE includes ts-peers by definition, so the result
  // is tie-insensitive — no tiebreak column needed for exact parity. One
  // shuffle + sort on the key; the frame scan is a sliding two-pointer
  // inside each partition.
  private val q98 = QueryDef(
    "q98_window_range_interval",
    """SELECT user_id, event_id,
      |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
      |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_last_hour
      |FROM events WHERE user_id <= 10
      |ORDER BY user_id, event_id LIMIT 1000""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "events")
      .where(col("user_id") <= 10)
      .selectExpr("user_id", "event_id",
        """COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
          |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_last_hour""".stripMargin)
      .orderBy("user_id", "event_id").limit(1000)
  }

  // --- q104: TRUE streaming incremental dedup against a fingerprint ledger -
  // The production 100 TB ingest shape (VERDICT r03 #1): a continuously
  // running stream drops documents whose content fingerprint was already
  // ingested — either by a PRIOR run (the persistent ledger, loaded as
  // flatMapGroupsWithState INITIAL STATE) or earlier in THIS stream (state
  // updated as fingerprints are claimed). q70 is the batch twin; here the
  // ledger lives in the state store partitioned by fingerprint, so
  // scale-out is the state partitioning and each micro-batch touches only
  // the fingerprints it carries — never a snapshot re-join.
  //
  // Determinism: the survivor for a new fingerprint is the MIN doc_id among
  // the batch's claimants (not "first seen", which would be partition-order
  // dependent). On static single-batch input the emitted set is exactly
  // q70's anti-join result grouped per fingerprint — the oracle below.
  // Unbounded streams need GroupStateTimeout eviction keyed to a retention
  // horizon — that variant is operators/StreamDedup.dedupWithTtl
  // (EventTimeTimeout, StreamingSpec-gated on both state providers); the
  // ledger HERE is meant to persist, so NoTimeout is the semantics.
  //
  // Keyed on the HEAD fingerprint (first 5 tokens, q70's r04 key): heads
  // collide in this corpus, so BOTH drop paths are genuinely exercised —
  // ledger hits (initial state) and intra-stream claims (state.update +
  // min-doc_id survivor, n_claims > 1) — and a broken initial-state wiring
  // or claim path fails the hash compare instead of passing vacuously.
  private val q104 = QueryDef(
    "q104_stream_incremental_dedup",
    """WITH fp AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(text, ' ')[1:5],
      |                       t -> CAST(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT))),
      |      (acc, v) -> (acc * 131 + v) % 1000000007) AS fingerprint
      |  FROM documents),
      |ledger AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250)
      |SELECT MIN(doc_id) AS doc_id, fingerprint, COUNT(*) AS n_claims
      |FROM fp
      |WHERE doc_id >= 250
      |  AND fingerprint NOT IN (SELECT fingerprint FROM ledger)
      |GROUP BY fingerprint ORDER BY doc_id LIMIT 500""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = s
    import spark.implicits._
    val fpCol = graft.functions.GraftFunctions.headFingerprint("text", 5)
    // The persistent ledger: fingerprints ingested by prior runs, loaded
    // once as per-key initial state (true = already claimed).
    val ledger = Tables.table(s, dir, "documents")
      .where(col("doc_id") < 250)
      .select(fpCol.as("fingerprint")).distinct()
      .as[Long].map(f => (f, true))
      .groupByKey(_._1).mapValues(_._2)
    val deduped = Tables.tableStream(s, dir, "documents")
      .where(col("doc_id") >= 250)
      .select(col("doc_id"), fpCol.as("fingerprint"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, (Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout(), ledger) {
        case (fp: Long, rows: Iterator[(Long, Long)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // already in the ledger: drop all
          else {
            var minId = Long.MaxValue
            var n = 0L
            rows.foreach { case (id, _) => n += 1; if (id < minId) minId = id }
            state.update(true) // claim the fingerprint for future batches
            Iterator((minId, fp, n))
          }
      }
    drainToParquet(s, "q104", deduped.toDF("doc_id", "fingerprint", "n_claims"), "update")
      .orderBy("doc_id").limit(500)
  }

  // --- q105: TRUE streaming sliding windows (1 h window, 30 min slide) ----
  // q40's streaming twin (VERDICT r03 #2) — the most common production
  // aggregation after tumbling. Watermark + append mode: each overlapping
  // window is emitted exactly once when the watermark passes its end and
  // its state is dropped; every event feeds exactly 2 live windows, so
  // state is bounded by (watermark span / slide) windows per key. On
  // static input the emitted set is deterministic: exactly the windows the
  // final watermark (max ts − 1 h) finalized — q85's oracle recipe applied
  // to q40's two shifted bucketizations.
  private val q105 = QueryDef(
    "q105_stream_sliding",
    """WITH w AS (
      |  SELECT date_trunc('hour', ts) AS wstart, event_type FROM events
      |  UNION ALL
      |  SELECT date_trunc('hour', ts - INTERVAL 30 MINUTE) + INTERVAL 30 MINUTE, event_type FROM events)
      |SELECT wstart, event_type, COUNT(*) AS n FROM w
      |WHERE wstart + INTERVAL 1 HOUR <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
      |GROUP BY wstart, event_type ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
    val windows = Tables.eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
    drainToParquet(s, "q105", windows, "append").orderBy("wstart", "event_type")
  }

  def defs: Seq[QueryDef] =
    Seq(q39, q40, q41, q42, q53, q56, q61, q73, q82, q85, q93, q94, q98,
      q104, q105)
}
