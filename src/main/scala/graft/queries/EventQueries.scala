package graft
package queries

import org.apache.spark.sql.functions._

import QueryFixtures._
import Role._

/** Event queries (e*): time windows, sessions, funnels, retention, gap
  * fill, and the structured-streaming faces over the events table.
  */
private[graft] object EventQueries {

  val all: Seq[Query] = Seq(
    // --- events ------------------------------------------------------------
    Query("e_hour_window", (s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"), max(col("value")).as("max_v")),
      Timed("SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, min(value) AS min_v, max(value) AS max_v FROM events GROUP BY 1, 2")),
    Query("e_json_extract", (s, d) =>
      t(s, d, "events")
        .select((get_json_object(col("props"), "$.k").cast("int") % 10).as("k_mod"))
        .groupBy(col("k_mod")).agg(count(lit(1)).as("n")),
      Timed("SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod, count(*) AS n FROM events GROUP BY 1")),
    Query("e_sessionize", (s, d) =>
      graft.streaming.EventStream.sessionizeBatch(t(s, d, "events"), gapSeconds = 1800L),
      Timed("""SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events FROM (SELECT user_id, ts, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM (SELECT user_id, ts, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new FROM events)) GROUP BY user_id, sess""")),
    // the same sessionization through Spark's BUILT-IN session_window
    // aggregation (merging windows, identical plan batch or streaming).
    // Boundary semantics differ from sessionizeBatch by design: the window
    // end is exclusive (an event at exactly last + gap starts a NEW
    // session, where sessionizeBatch's strict `> gap` keeps it), and
    // session_end = last event + gap rather than the last event itself —
    // the oracle replays exactly those semantics
    Query("e_session_window", (s, d) =>
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("sum_value")),
      // Spark session_window semantics replayed: a gap >= 30 min (exclusive
      // window end) starts a new session; session_end = last event + gap
      Timed("""SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events, sum(value) AS sum_value FROM (SELECT user_id, ts, value, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800 * 1000000 THEN 1 ELSE 0 END AS is_new FROM events)) GROUP BY user_id, sess""")),
    Query("e_sliding_window", (s, d) =>
      // overlapping windows: each event lands in duration/slide windows
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n")),
      Timed("SELECT window_start, event_type, count(*) AS n FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) - (k * INTERVAL '15 minutes') AS window_start, event_type, ts FROM events, unnest([0,1,2,3]) AS t(k)) WHERE ts >= window_start AND ts < window_start + INTERVAL '1 hour' GROUP BY 1, 2")),
    // ordered conversion funnel: each stage requires an event strictly after
    // the user's earliest completion of the previous stage
    Query("e_funnel", (s, d) =>
      graft.operators.EventAnalytics.funnel(t(s, d, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
      Timed("""WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1), s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t WHERE e.event_type = 'click' GROUP BY 1), s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t WHERE e.event_type = 'purchase' GROUP BY 1) SELECT 1 AS stage, count(*) AS users FROM s1 UNION ALL SELECT 2, count(*) FROM s2 UNION ALL SELECT 3, count(*) FROM s3""")),
    // the time-constrained funnel: complete within 2 h of the FIRST
    // stage-1 event (first-entry anchor; greedy-earliest per stage is
    // exact for that anchoring — see EventAnalytics.funnelWithin)
    Query("e_funnel_window", (s, d) =>
      graft.operators.EventAnalytics.funnelWithin(t(s, d, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        windowSeconds = 7200L),
      Timed("""WITH s1 AS (SELECT user_id AS u, min(ts) AS t, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY 1), s2 AS (SELECT e.user_id AS u, min(e.ts) AS t, s1.t0 AS t0 FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t AND e.ts <= s1.t0 + INTERVAL 7200 SECONDS WHERE e.event_type = 'click' GROUP BY 1, 3), s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t AND e.ts <= s2.t0 + INTERVAL 7200 SECONDS WHERE e.event_type = 'purchase' GROUP BY 1) SELECT 1 AS stage, count(*) AS users FROM s1 UNION ALL SELECT 2, count(*) FROM s2 UNION ALL SELECT 3, count(*) FROM s3""")),
    // first-seen-day cohorts × day offset distinct-user retention grid
    Query("e_retention", (s, d) =>
      graft.operators.EventAnalytics.retention(t(s, d, "events"), "user_id", "ts"),
      Timed("""WITH firsts AS (SELECT user_id AS u, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1) SELECT f.cohort, datediff('day', f.cohort, CAST(e.ts AS DATE)) AS day_offset, count(DISTINCT e.user_id) AS users FROM events e JOIN firsts f ON e.user_id = f.u GROUP BY 1, 2""")),
    // per-user daily counts densified with zero-filled silent days
    Query("e_gapfill", (s, d) =>
      graft.operators.EventAnalytics.dailyGapFill(t(s, d, "events"), "user_id", "ts"),
      Timed("""WITH spans AS (SELECT user_id, min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l FROM events GROUP BY 1), cal AS (SELECT user_id, CAST(unnest(generate_series(CAST(f AS TIMESTAMP), CAST(l AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM spans), cnts AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2) SELECT c.user_id, c.day, coalesce(n.n, CAST(0 AS BIGINT)) AS n FROM cal c LEFT JOIN cnts n ON c.user_id = n.user_id AND c.day = n.day""")),
    // per-user daily volume anomalies: gap-filled counts more than 2 sample
    // std-devs from the user's own mean (silent days CAN flag — the
    // gap-fill-first property the oracle replays)
    Query("e_anomaly", (s, d) =>
      graft.operators.EventAnalytics.dailyAnomalies(t(s, d, "events"), "user_id", "ts"),
      // gap-fill replayed, then per-user mean/σ over the DENSIFIED days and
      // the same integer-scaled 2σ cut
      Timed("""WITH spans AS (SELECT user_id, min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l FROM events GROUP BY 1), cal AS (SELECT user_id, CAST(unnest(generate_series(CAST(f AS TIMESTAMP), CAST(l AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM spans), cnts AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2), gf AS (SELECT c.user_id, c.day, coalesce(n.n, CAST(0 AS BIGINT)) AS n FROM cal c LEFT JOIN cnts n ON c.user_id = n.user_id AND c.day = n.day), st AS (SELECT user_id, day, n, avg(n) OVER (PARTITION BY user_id) AS m, stddev_samp(n) OVER (PARTITION BY user_id) AS sd FROM gf) SELECT user_id, day, n, CAST(round(m * 100) AS BIGINT) AS mean_x100, CAST(round(sd * 100) AS BIGINT) AS stddev_x100 FROM st WHERE sd IS NOT NULL AND sd > 0 AND abs(n - m) * 100.0 > sd * 200""")),
    Query("e_stream_window", (s, d) => {
      // all e_stream_* harness queries run on a stream-sized session clone
      // (see EventStream.streamSession): state-store count per stateful op
      // = shuffle partitions, and 32 stores' per-batch checkpoint files are
      // fixed cost a finite harness stream never amortizes
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      graft.streaming.EventStream.runToCompletion(ss,
        graft.streaming.EventStream.windowedStats(stream, "1 hour"), "e_stream_window")
    },
      Timed("SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n, min(value) AS min_v, max(value) AS max_v FROM events GROUP BY 1, 2")),
    // stream-static enrichment: events joined to the customer dim inside
    // each micro-batch (broadcast — the stream never shuffles), aggregated
    // per segment; equals the plain batch join+agg (oracle)
    Query("e_stream_enrich", (s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val dim = t(ss, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = graft.streaming.EventStream
        .enrichWithDim(stream, dim, "user_id", "c_custkey")
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      graft.streaming.EventStream.runToCompletion(ss, enriched, "e_stream_enrich")
    },
      Timed("SELECT c_mktsegment, event_type, count(*) AS n, sum(value) AS sum_value FROM events e JOIN customer c ON e.user_id = c.c_custkey GROUP BY 1, 2")),
    // stream-stream interval join: purchases attributed to same-user clicks
    // within the preceding hour — both sides are streams, matched in keyed
    // join state bounded by watermark + range; equals the batch interval
    // join (oracle)
    Query("e_stream_join", (s, d) => {
      // inner join: every output row is emitted in the data batch that
      // completes its pair; the no-data batch only evicts state (proof
      // obligation documented on skipNoDataBatch)
      val ss = graft.streaming.EventStream.skipNoDataBatch(
        graft.streaming.EventStream.streamSession(s))
      val clicks = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      val purchases = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
          col("value").as("purchase_value"))
      val joined = graft.streaming.EventStream.intervalJoin(
        clicks, purchases, "user_id", "p_user", "click_ts", "purchase_ts",
        maxLagSeconds = 3600, watermarkDelay = "1 hour")
        .select(col("user_id"), col("click_ts"), col("purchase_ts"),
          col("purchase_value"))
      graft.streaming.EventStream.runAppendToCompletion(ss, joined, "e_stream_join")
    },
      Timed("SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value FROM events c JOIN events p ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase' AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR")),
    // the same attribution join in BATCH banded equi-join form — the plan
    // for dense per-key histories at scale (candidates shrink from per-key
    // history² to per-(key, lag-window) neighborhoods); shares the
    // streaming join's oracle, so banded ≡ naive rides the hash gate
    Query("e_interval_batch", (s, d) => {
      val ev = t(s, d, "events")
      graft.streaming.EventStream.intervalJoinBatch(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
            col("value").as("purchase_value")),
        "user_id", "p_user", "click_ts", "purchase_ts", maxLagSeconds = 3600)
        .select(col("user_id"), col("click_ts"), col("purchase_ts"),
          col("purchase_value"))
    },
      Timed("SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value FROM events c JOIN events p ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase' AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR")),
    // at-least-once delivery simulated by self-union (every event delivered
    // twice), restored to effectively-once by watermark-scoped streaming
    // dedup — final per-type counts equal the plain batch counts (oracle)
    Query("e_stream_dedup", (s, d) => {
      // dropDuplicatesWithinWatermark emits first-seen rows on ARRIVAL; the
      // no-data batch only evicts state (see skipNoDataBatch)
      val ss = graft.streaming.EventStream.skipNoDataBatch(
        graft.streaming.EventStream.streamSession(s))
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val doubled = stream.union(stream)
      val deduped = graft.streaming.EventStream
        .dedupWithinWatermark(doubled, Seq("event_id"), "1 hour")
      val q = deduped.writeStream
        .format("memory").queryName("e_stream_dedup_rows")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table("e_stream_dedup_rows")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    },
      Timed("SELECT event_type, count(*) AS n FROM events GROUP BY 1")),
    // streaming-mode sessionization over the finite events stream: gap- and
    // watermark-closed sessions only (open tails stay in state). Oracle-able:
    // emitted rows = batch sessions with a successor session (closed
    // in-stream by a > gap event) plus last-per-user sessions whose timeout
    // deadline fell strictly behind the final watermark (= max event ts at
    // 0s delay, ms-floored as Spark tracks it)
    Query("e_stream_sessionize", (s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      import ss.implicits._
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[graft.streaming.EventStream.Event]
      val sessions = graft.streaming.EventStream
        .sessionizeStateful(stream, gapSeconds = 1800L, emitOpenAtEnd = false)
      val q = sessions.writeStream
        .format("memory").queryName("e_stream_sessionize")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table("e_stream_sessionize")
    },
      // batch sessions, minus open tails: a session is emitted iff it has a
      // successor (rn > 1 from the end) or its ms-rounded-up timeout deadline
      // is strictly behind the final watermark (max ts, ms-floored, 0s delay)
      Timed("""WITH sess AS (SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events FROM (SELECT user_id, ts, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM (SELECT user_id, ts, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new FROM events)) GROUP BY user_id, sess), wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events) SELECT user_id, session_start, session_end, n_events FROM (SELECT s.*, row_number() OVER (PARTITION BY user_id ORDER BY session_end DESC) AS rn FROM sess s) s2, wm WHERE rn > 1 OR (epoch_us(session_end) + 1800 * 1000000 + 999) // 1000 < wm_ms""")),
    // streaming CDC ingest: per micro-batch, reduce the batch to its latest
    // event per user and MERGE it into the persisted state table via
    // Warehouse.upsertLatest — the foreachBatch face of a continuously
    // maintained latest-state materialized view. The (ts, event_id) version
    // chain makes the merge result independent of how the stream was split
    // into batches (EventStreamSpec pins multi-batch ≡ single-batch); the
    // final state equals the plain batch latest-per-user (oracle)
    Query("e_stream_upsert", (s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val stateRoot = Fixtures.dir("upsert_state")
      val ckpt = Fixtures.dir("upsert_ckpt")
      val state = graft.streaming.EventStream.streamUpsertLatest(
        stream, Seq("user_id"), Seq("ts", "event_id"), stateRoot.toString, ckpt.toString)
      ss.read.parquet(state.get)
        .select(col("user_id"), col("ts").as("last_ts"), col("event_type"), col("value"))
    },
      // the streamed CDC merge converges to the plain batch latest-per-user
      // ((ts, event_id) version chain; event_id is unique so the pick is
      // total-order deterministic)
      Timed("SELECT user_id, ts AS last_ts, event_type, value FROM (SELECT user_id, ts, event_type, value, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1")),
    // streaming constraint audit: per-micro-batch one-pass reports summed
    // into the stream-lifetime audit — counts are additive, so the
    // converged report equals the batch audit of the whole table (the
    // oracle); multi-batch additivity is spec-pinned (EventStreamSpec)
    Query("e_stream_constraints", (s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val reportDir = Fixtures.dir("audit_report")
      val ckpt = Fixtures.dir("audit_ckpt")
      graft.streaming.EventStream.streamConstraintAudit(stream, Seq(
          "user_not_null" -> col("user_id").isNotNull,
          "ts_not_null" -> col("ts").isNotNull,
          "type_domain" -> col("event_type").isin(
            "view", "click", "purchase", "signup", "error"),
          "value_finite" -> (abs(col("value")) < lit(1e12))),
        reportDir.toString, ckpt.toString)
    },
      // the stream-lifetime audit ≡ one batch aggregate over the whole table
      Timed("WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(coalesce(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v1, CAST(coalesce(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v2, CAST(coalesce(sum(CASE WHEN NOT coalesce(event_type IN ('view', 'click', 'purchase', 'signup', 'error'), FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS v3, CAST(coalesce(sum(CASE WHEN NOT coalesce(abs(value) < 1000000000000.0, FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS v4 FROM events) SELECT 'user_not_null' AS check_name, v1 AS n_violations, n_rows, v1 * 1000000 // n_rows AS violation_ppm FROM t UNION ALL SELECT 'ts_not_null', v2, n_rows, v2 * 1000000 // n_rows FROM t UNION ALL SELECT 'type_domain', v3, n_rows, v3 * 1000000 // n_rows FROM t UNION ALL SELECT 'value_finite', v4, n_rows, v4 * 1000000 // n_rows FROM t")),
    // streaming theta slice table: per-batch sketches union-folded per
    // slice; below nominal capacity the converged estimates are EXACT
    // distinct counts (cardinalities here sit 2.7× under the lgK=12
    // capacity even at sf0.1), so the gate is plain count(distinct)
    Query("e_stream_theta", (s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val sketchDir = Fixtures.dir("theta_sk")
      val ckpt = Fixtures.dir("theta_ckpt")
      graft.streaming.EventStream.streamThetaSlices(
          stream.select(col("event_type"), col("user_id")),
          col("event_type"), col("user_id"), lgK = 12,
          sketchDir.toString, ckpt.toString)
        .select(col("slice").as("event_type"),
          graft.operators.ThetaSketches.thetaEstimate(col("sketch"))
            .cast("long").as("n_users"))
    },
      Timed("SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events GROUP BY 1")),
    // streaming face of the SCD2 point-in-time join: facts stream in,
    // each micro-batch enriched against the static dimension history via
    // the as-of union-window plan, converged table ≡ the batch PIT join
    // (shares j14's oracle semantics; PIT is per-row so batch-split
    // independence is exact)
    Query("e_stream_asof", (s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val ev = t(s, d, "events")
      val dim = graft.load.Warehouse.scd2History(
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"),
            col("event_id").as("change_id"), col("value").as("profile_value")),
        Seq("user_id"), "ts", Seq("change_id"))
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("fact_id"), col("user_id"), col("ts"),
          col("value").as("amount"))
      val outDir = Fixtures.dir("pit_out")
      val ckpt = Fixtures.dir("pit_ckpt")
      graft.streaming.EventStream.streamPointInTimeEnrich(
          stream, dim, "user_id", "ts",
          Seq("profile_value", "change_id", "effective_from"),
          outDir.toString, ckpt.toString)
        .filter(col("change_id").isNotNull)
    },
      // identical to j14's containment-join restatement: the streamed PIT
      // enrichment must converge to the batch join exactly
      Timed("WITH dim AS (SELECT user_id, event_id AS change_id, value AS profile_value, ts AS effective_from, LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to FROM events WHERE event_type = 'view'), tiled AS (SELECT * FROM dim WHERE effective_to IS NULL OR effective_to > effective_from) SELECT f.event_id AS fact_id, f.user_id, f.ts, f.value AS amount, d.profile_value, d.change_id, d.effective_from FROM events f JOIN tiled d ON f.user_id = d.user_id AND f.ts >= d.effective_from AND (d.effective_to IS NULL OR f.ts < d.effective_to) WHERE f.event_type = 'purchase'")),
    // streaming count-min sketch: per-batch bucket tables folded by sum.
    // Bucket counts are linear in the input, so the converged streamed
    // sketch must equal the batch sketch of the whole table EXACTLY,
    // bucket for bucket — emitted as a provably-empty mismatch frame
    // under the hash gate (the streaming face of t_cms_merge)
    Query("e_stream_cms", (s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val sketchDir = Fixtures.dir("cms_sketch")
      val ckpt = Fixtures.dir("cms_ckpt")
      val streamed = graft.streaming.EventStream.streamCmsSketch(
        stream.select(col("user_id")), col("user_id"), depth = 5, width = 256,
        sketchDir.toString, ckpt.toString)
      val batch = graft.operators.Sketches.cmsSketch(
        t(s, d, "events"), col("user_id"), depth = 5, width = 256)
      streamed.select(col("d"), col("b"), col("c").as("c_stream"))
        .join(batch.select(col("d"), col("b"), col("c").as("c_batch")),
          Seq("d", "b"), "full_outer")
        .filter(!(col("c_stream") <=> col("c_batch")))
        .select(col("d"), col("b"), col("c_stream"), col("c_batch"))
    },
      Timed("SELECT CAST(0 AS INT) AS d, CAST(0 AS INT) AS b, CAST(0 AS BIGINT) AS c_stream, CAST(0 AS BIGINT) AS c_batch FROM events WHERE 1 = 0")),
    // streaming windowed distinct-users via HLL sketch STATE: the sketch is
    // the aggregation buffer, so streaming state per window is one sketch
    // (lgK-fixed KBs), never a distinct-user set. Estimates are
    // DataSketches-specific → rows-only; the accuracy contract is the
    // sibling below
    Query("e_stream_hll", (s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val agg = stream
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("hll"))
      graft.streaming.EventStream.runToCompletion(ss, agg, "e_stream_hll")
        .select(col("w.start").as("day"),
          hll_sketch_estimate(col("hll")).as("approx_users"))
    },
      BenchOnly(Query("e_stream_hll_contract", (s, d) => {
        // every per-window streamed estimate must sit within 5% of the exact
        // batch distinct count for that day — provably-empty frame under the
        // hash gate. Day keys compared as epoch days (the streamed side is
        // session-UTC TimestampType, the batch side NTZ — same instant under
        // the engine's UTC session)
        val ss = graft.streaming.EventStream.streamSession(s)
        val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        val agg = stream
          .groupBy(window(col("ts"), "1 day").as("w"))
          .agg(hll_sketch_agg(col("user_id"), lit(12)).as("hll"))
        def epochDay(c: org.apache.spark.sql.Column) =
          (unix_micros(c.cast(org.apache.spark.sql.types.TimestampType)) / 86400000000L).as("day")
        val streamed = graft.streaming.EventStream
          .runToCompletion(ss, agg, "e_stream_hll_contract")
          .select(epochDay(col("w.start")),
            hll_sketch_estimate(col("hll")).as("approx_users"))
        val exact = t(ss, d, "events")
          .groupBy(epochDay(date_trunc("day", col("ts"))))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        streamed.join(exact, Seq("day"), "full_outer")
          .filter(col("approx_users").isNull || col("exact_users").isNull ||
            abs(col("approx_users") - col("exact_users")) * 1000L >
              col("exact_users") * 50L)
          .select(col("day"), col("approx_users"), col("exact_users"))
      },
        // streaming per-window HLL accuracy contract: provably-empty frame
        Contract("SELECT CAST(0 AS BIGINT) AS day, CAST(0 AS BIGINT) AS approx_users, CAST(0 AS BIGINT) AS exact_users FROM events WHERE 1 = 0")))),
    // streaming CDC with tombstones: every 7th event is a DELETE of its
    // user. The op column rides THROUGH the state table (tombstones are
    // retained so a later-arriving older update cannot resurrect a deleted
    // key — spec-pinned across batches) and is filtered only at read time:
    // a user whose latest change is a delete is absent from the final view
    Query("e_stream_cdc", (s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"),
          when(col("event_id") % 7 === 0, lit("D")).otherwise(lit("U")).as("op"))
      val stateRoot = Fixtures.dir("cdc_state")
      val ckpt = Fixtures.dir("cdc_ckpt")
      val state = graft.streaming.EventStream.streamUpsertLatest(
        stream, Seq("user_id"), Seq("ts", "event_id"), stateRoot.toString, ckpt.toString)
      ss.read.parquet(state.get)
        .filter(col("op") =!= "D")
        .select(col("user_id"), col("ts").as("last_ts"), col("event_type"), col("value"))
    },
      // ...with tombstones: a user whose LATEST change is a delete (every 7th
      // event) is absent from the converged view
      Timed("SELECT user_id, ts AS last_ts, event_type, value FROM (SELECT user_id, ts, event_type, value, event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1 AND event_id % 7 != 0"))
  )
}
