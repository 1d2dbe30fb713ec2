package graft.queries

import graft.queries.Common._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Queries over the `events` table: time buckets, sessions, windows,
  * interval joins and the event ledgers. */
object EventQueries {
  val all: Seq[Q] = Seq(
    // -- events: time-bucketed aggregation --
    Q("q24_events_hourly", (s, d) =>
      T(s, d, "events").groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 6).as("sum_value")),
      Sql("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // sessionization (custom data-dependent state: per-user lag over
    // (ts, event_id), a new session after a 30-minute gap)
    Q("q53_sessions", (s, d) =>
      graft.streaming.Streaming.sessionizeBatch(T(s, d, "events"), 30),
      Sql("""WITH x AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus,
        |       lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS pus
        |       FROM events),
        |y AS (SELECT user_id, event_id, value, tus,
        |       CASE WHEN pus IS NULL OR tus - pus > 1800000000
        |            THEN 1 ELSE 0 END AS ns
        |      FROM x),
        |z AS (SELECT user_id, value, tus,
        |       sum(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS sess_no
        |      FROM y)
        |SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
        |       min(tus) AS session_start_us, max(tus) AS session_end_us,
        |       count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM z GROUP BY 1, 2""".stripMargin)),

    // as-of (point-in-time) join: every event annotated with the LATEST
    // at-or-before purchase of the same user — the single-shuffle
    // union+window plan (no range-join row explosion); -1/'' sentinels
    // for events with no prior purchase
    Q("q84_asof", (s, d) => {
      val ev = T(s, d, "events")
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.asofBackward(ev, right, "user_id", "ts", "ts",
          Seq("purchase_id", "purchase_ts", "purchase_value"))
        .select(col("event_id"), col("event_type"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          coalesce(date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss"),
            lit("")).as("purchase_ts"),
          round(coalesce(col("purchase_value"), lit(-1.0)), 6)
            .as("purchase_value"))
    },
      // the same union+running-last plan the Spark operator compiles to
      // (DuckDB's ASOF JOIN has unspecified tie order, so the oracle spells
      // out the deterministic at-or-before semantics instead)
      Sql("""WITH u AS (
        |  SELECT user_id, ts, 1 AS tag, event_id, event_type,
        |         NULL::BIGINT AS pid, NULL::TIMESTAMP AS pts,
        |         NULL::DOUBLE AS pval
        |  FROM events
        |  UNION ALL
        |  SELECT user_id, ts, 0, NULL, NULL, event_id, ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT *,
        |    last_value(pid IGNORE NULLS) OVER win AS lpid,
        |    last_value(pts IGNORE NULLS) OVER win AS lpts,
        |    last_value(pval IGNORE NULLS) OVER win AS lpval
        |  FROM u
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, tag, pid, pts, pval
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type,
        |       coalesce(lpid, -1) AS purchase_id,
        |       coalesce(strftime(lpts, '%Y-%m-%d %H:%M:%S'), '') AS purchase_ts,
        |       round(coalesce(lpval, -1), 6) AS purchase_value
        |FROM w WHERE tag = 1""".stripMargin)),

    // sliding event-time windows (1 h window, 15 min slide): per-row
    // 4-way Expand + one hash aggregation — no self-join, no range join
    Q("q87_sliding", (s, d) =>
      graft.streaming.Streaming.slidingAgg(T(s, d, "events"), 60, 15)
        .select(
          date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss")
            .as("win_start"),
          col("event_type"), col("n"),
          round(col("sum_value"), 6).as("sum_value")),
      // sliding windows are epoch-aligned on the 15-min slide, so each event
      // lands in exactly 4 windows: base bucket minus k slides, k = 0..3
      Sql("""SELECT strftime(make_timestamp(
        |         (900 * (CAST(floor(epoch(ts)) AS BIGINT) // 900) - 900 * k)
        |           * 1000000), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events, (SELECT unnest(range(4)) AS k)
        |GROUP BY 1, 2""".stripMargin)),

    // HyperLogLog register table: approximate distinct users per
    // event_type as 64 integer registers per group — the scale path for
    // distinct counting (max combines map-side; output is groups·64 rows
    // whatever the user cardinality). Registers are integer-exact and
    // sha-derived, so the oracle replays them; the float estimate they
    // imply is asserted within tolerance in SketchSpec
    Q("q114_hll_users", (s, d) =>
      graft.text.Sketches.hllRegisters(T(s, d, "events"),
          "event_type", "user_id")
        .select(col("grp").as("event_type"), col("reg"), col("max_rank")),
      // HLL registers replayed: reg = h % 64, rank = first '1' position in
      // the zero-padded binary expansion of h div 64 (55 if all-zero)
      Sql("""WITH h AS (SELECT event_type,
        |           CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |           FROM events),
        |r AS (SELECT event_type, h % 64 AS reg, h // 64 AS rest FROM h)
        |SELECT event_type, reg,
        |       CAST(max(CASE WHEN rest = 0 THEN 55
        |                ELSE instr(lpad(bin(rest), 54, '0'), '1') END) AS BIGINT)
        |         AS max_rank
        |FROM r GROUP BY 1, 2""".stripMargin)),

    // first-arrival dedup: one argmin aggregation, no per-key window sort
    Q("q115_dedup_first", (s, d) =>
      graft.streaming.Streaming.dedupBatch(T(s, d, "events"),
        Seq("user_id", "event_type")),
      // first-arrival dedup: first (ts, event_id) row per key + dup count
      Sql("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
        |       row_number() OVER (PARTITION BY user_id, event_type
        |                          ORDER BY ts, event_id) AS rn,
        |       count(*) OVER (PARTITION BY user_id, event_type) AS n_dups
        |       FROM events)
        |SELECT user_id, event_type, tus AS first_ts_us,
        |       event_id AS first_event_id, CAST(n_dups AS BIGINT) AS n_dups
        |FROM ev WHERE rn = 1""".stripMargin)),

    // time-respecting reachability (earliest arrival, Wu et al. VLDB'14):
    // contacts = same event_type within 300 s (banded bucket join,
    // directed earlier→later), seeds = sha-sampled users at time 0,
    // 4 bounded rounds (the fixpoint is spec-covered; static
    // reachability would OVERCOUNT — an edge usable before you arrive
    // is useless)
    Q("q122_temporal_reach", (s, d) => {
      val ev = T(s, d, "events")
      val c = graft.kernels.TemporalReach.contacts(ev,
        "user_id", "event_type", "ts", deltaSec = 300L)
      val seeds = ev.select(col("user_id").as("vid")).distinct()
        .filter(shaMod("vid", 1000L) < 50)
      graft.kernels.TemporalReach.earliestArrival(s, c, seeds,
        maxRounds = 4)
    },
      // earliest-arrival temporal reachability, bounded to 4 contact hops:
      // the recursion carries (vid, arrival-candidate, path length); UNION
      // dedup bounds states by |contacts|·rounds, and min-over-states
      // equals the kernel's min-over-paths(<=4) exactly (a contact from u
      // departing at tu qualifies iff SOME state t <= tu exists, i.e. iff
      // min-arrival(u) <= tu)
      Sql("""WITH RECURSIVE ev AS (SELECT user_id AS u, event_type AS g, epoch_us(ts) AS t FROM events),
        |seeds AS (SELECT DISTINCT u AS vid FROM ev
        |          WHERE CAST(('0x' || substr(sha256(CAST(u AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 50),
        |c AS (SELECT a.u AS src, b.u AS dst, a.t AS tu, b.t AS tv
        |      FROM ev a JOIN ev b ON a.g = b.g
        |       AND b.t >= a.t AND b.t - a.t <= 300000000
        |       AND (a.t < b.t OR (a.t = b.t AND a.u < b.u)) AND a.u <> b.u),
        |reach(vid, t, r) AS (
        |  SELECT vid, CAST(0 AS BIGINT), 0 FROM seeds
        |  UNION
        |  SELECT c.dst, c.tv, r.r + 1 FROM reach r JOIN c ON c.src = r.vid AND c.tu >= r.t
        |  WHERE r.r < 4
        |)
        |SELECT vid, min(t) AS arrival FROM reach GROUP BY 1""".stripMargin)),

    // ordered funnel analysis (view -> click -> purchase, earliest-
    // completion semantics): per-user reached stage + completion time —
    // |steps| user-keyed min-aggs, never a window over raw events
    Q("q128_funnel", (s, d) =>
      graft.operators.Funnel.stages(T(s, d, "events"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase")),
      // funnel replay: earliest view, earliest strictly-later click,
      // earliest strictly-later purchase; stage = completed prefix length
      Sql("""WITH ev AS (SELECT user_id AS u, event_type AS g, epoch_us(ts) AS t
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')),
        |uni AS (SELECT DISTINCT u FROM ev),
        |s1 AS (SELECT u, min(t) AS t1 FROM ev WHERE g = 'view' GROUP BY 1),
        |s2 AS (SELECT ev.u, min(t) AS t2 FROM ev JOIN s1 ON ev.u = s1.u
        |       WHERE g = 'click' AND t > t1 GROUP BY 1),
        |s3 AS (SELECT ev.u, min(t) AS t3 FROM ev JOIN s2 ON ev.u = s2.u
        |       WHERE g = 'purchase' AND t > t2 GROUP BY 1)
        |SELECT uni.u AS user_id,
        |       CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |                 WHEN t2 IS NOT NULL THEN 2
        |                 WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |       coalesce(t3, t2, t1) AS t_final
        |FROM uni LEFT JOIN s1 ON uni.u = s1.u
        |         LEFT JOIN s2 ON uni.u = s2.u
        |         LEFT JOIN s3 ON uni.u = s3.u""".stripMargin)),

    // temporal 2-chain motif census (Paranjape-Benson-Leskovec WSDM'17):
    // per middle vertex, contact pairs u->v then v->w with the relay
    // departing after the arrival and the whole span within 600 s —
    // information actually relayable through v (static wedges overcount)
    Q("q132_temporal_motifs", (s, d) => {
      val c = graft.kernels.TemporalReach.contacts(T(s, d, "events"),
        "user_id", "event_type", "ts", deltaSec = 300L)
      graft.kernels.TemporalReach.chainMotifs(c, windowUs = 600000000L)
    },
      // temporal chain motifs over the q122 contact table: relay departs
      // at-or-after arrival, full span within the 600 s window
      Sql("""WITH ev AS (SELECT user_id AS u, event_type AS g, epoch_us(ts) AS t FROM events),
        |c AS (SELECT a.u AS src, b.u AS dst, a.t AS tu, b.t AS tv
        |      FROM ev a JOIN ev b ON a.g = b.g
        |       AND b.t >= a.t AND b.t - a.t <= 300000000
        |       AND (a.t < b.t OR (a.t = b.t AND a.u < b.u)) AND a.u <> b.u)
        |SELECT a.dst AS v, count(*) AS n_chains
        |FROM c a JOIN c b ON a.dst = b.src
        |WHERE b.tu >= a.tv AND b.tv - a.tu <= 600000000 AND a.src <> b.dst
        |GROUP BY 1""".stripMargin)),

    // attribution interval join (user equi-join plus an event-time range
    // predicate): every view credited for a same-user click within the
    // next 60 minutes
    Q("q142_attribution", (s, d) =>
      graft.streaming.Streaming.attributionBatch(T(s, d, "events"),
        windowMin = 60),
      // user-keyed equi-join + the (0, 60 min] interval predicate
      Sql("""WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
        |      FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, view_us, click_id, click_us
        |FROM v JOIN c ON v.user_id = c.user_id
        |WHERE click_us > view_us AND click_us <= view_us + 3600000000""".stripMargin)),

    // HLL register-set ALGEBRA: per-type register tables for view/click
    // merged by max into the union sketch — the mergeability that makes
    // the sketch a scale primitive (distinct users over view ∪ click
    // without re-touching either side's raw events)
    Q("q153_hll_union", (s, d) => {
      val ev = T(s, d, "events")
        .filter(col("event_type").isin("view", "click"))
      graft.text.Sketches.hllRegisters(ev, "event_type", "user_id")
        .groupBy(col("reg")).agg(max(col("max_rank")).as("max_rank"))
    },
      // the q114 register replay restricted to view/click, merged by max
      Sql("""WITH h AS (SELECT CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |           FROM events WHERE event_type IN ('view', 'click')),
        |r AS (SELECT h % 64 AS reg, h // 64 AS rest FROM h)
        |SELECT reg,
        |       CAST(max(CASE WHEN rest = 0 THEN 55
        |                ELSE instr(lpad(bin(rest), 54, '0'), '1') END) AS BIGINT)
        |         AS max_rank
        |FROM r GROUP BY 1""".stripMargin)),

    // watermark late-data quarantine ledger: 10-min tumbling windows,
    // 5-min allowed lateness, deterministic 0..19-min arrival jitter —
    // per window the on-time / late-accepted / dropped split a
    // withWatermark stream would produce at steady state
    Q("q166_late_quarantine", (s, d) =>
      graft.streaming.Streaming.lateAccounting(T(s, d, "events"),
        "event_id", "ts", windowMin = 10, latenessMin = 5,
        maxJitterMin = 20),
      // fixed-delay watermark ledger replay: integral epoch seconds,
      // sha-derived 0..19-min jitter, 600 s windows, 300 s lateness
      Sql("""WITH ev AS (SELECT epoch_us(ts) // 1000000 AS es,
        |                   CAST(('0x' || substr(sha256(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 20 * 60 AS jit
        |            FROM events),
        |w AS (SELECT es - es % 600 AS window_start_es,
        |             es + jit - (es - es % 600 + 600) AS delay
        |      FROM ev)
        |SELECT window_start_es,
        |       CAST(sum(CASE WHEN delay <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
        |       CAST(sum(CASE WHEN delay > 0 AND delay <= 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_accepted,
        |       CAST(sum(CASE WHEN delay > 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM w GROUP BY 1""".stripMargin)),

    // user-journey sequence mining: within-session event-type bigram
    // census (q53's 30-min session rule) — the transition table a
    // behavioral model trains on; per-user windows, bounded per key
    Q("q186_journey_bigrams", (s, d) => {
      val gapUs = 30 * 60L * 1000000L
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      T(s, d, "events")
        .withColumn("tus", unix_micros(col("ts").cast("timestamp")))
        .withColumn("pus", lag(col("tus"), 1).over(ord))
        .withColumn("ns", when(col("pus").isNull ||
          col("tus") - col("pus") > gapUs, 1L).otherwise(0L))
        .withColumn("sess_no", sum(col("ns")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("nt", lead(col("event_type"), 1).over(ord))
        .withColumn("nsess", lead(col("sess_no"), 1).over(ord))
        .filter(col("nsess") === col("sess_no"))
        .groupBy(col("event_type").as("from_type"), col("nt").as("to_type"))
        .agg(count(lit(1)).as("n"))
    },
      // journey-bigram replay: identical session numbering (lag + gap +
      // running sum) and lead pairing over (epoch micros, event_id) order
      Sql("""WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |            FROM events),
        |w AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS pus
        |      FROM ev),
        |n AS (SELECT *, CASE WHEN pus IS NULL OR tus - pus > 1800000000 THEN 1 ELSE 0 END AS ns
        |      FROM w),
        |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |      FROM n),
        |x AS (SELECT *,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS nt,
        |             lead(sess_no) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS nsess
        |      FROM s)
        |SELECT event_type AS from_type, nt AS to_type, count(*) AS n
        |FROM x WHERE nsess = sess_no GROUP BY 1, 2""".stripMargin)),

    // event burst detection: hourly (event_type, hour) counts vs the
    // trailing 3-hour sum; burst when the hour doubles its trailing
    // average (3·n > 2·sum3h) — per-type RANGE windows over a tiny
    // (type, hour) key space
    Q("q201_burst", (s, d) => {
      val c = T(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_timestamp(ts) div 3600").as("h"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rangeBetween(-3, -1)
      c.withColumn("trail_n", sum(col("n")).over(w))
        .filter(col("trail_n").isNotNull &&
          col("n") * lit(3L) > col("trail_n") * lit(2L))
        .select(col("event_type"), col("h"), col("n"), col("trail_n"))
    },
      // hourly counts per type, trailing 3-hour RANGE sum, integer ratio
      Sql("""WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |                  CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, h, n,
        |             sum(n) OVER (PARTITION BY event_type ORDER BY h
        |                          RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING) AS tn
        |      FROM c)
        |SELECT event_type, h, n, CAST(tn AS BIGINT) AS trail_n FROM w
        |WHERE tn IS NOT NULL AND n * 3 > tn * 2""".stripMargin)),

    // semi-structured extraction: JSON field pulled out of the event
    // props payload, aggregated per event type (platform JSON path op)
    Q("q231_props_extract", (s, d) =>
      T(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .select(col("event_type"), col("n"), col("sum_k"),
          expr("sum_k * 1000L div n").as("avg_k_milli")),
      // JSON path extraction parity: k summed per event type, milli mean
      Sql("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) * 1000
        |         // CAST(count(*) AS BIGINT) AS avg_k_milli
        |FROM events GROUP BY 1""".stripMargin)),

    // cross-key interval-overlap self-join via time binning — the band
    // join Spark lacks natively; each pair counted once in the bin of
    // the later start, no dedup shuffle
    Q("q236_interval_join", (s, d) =>
      graft.streaming.Streaming.intervalOverlap(T(s, d, "events"), 512),
      // closed-interval overlap, duration = floor(value) whole seconds
      Sql("""WITH iv AS (SELECT event_id, epoch_us(ts) // 1000000 AS s,
        |                   epoch_us(ts) // 1000000
        |                   + greatest(0, CAST(floor(value) AS BIGINT)) AS e
        |            FROM events)
        |SELECT a.event_id AS e1, b.event_id AS e2,
        |       least(a.e, b.e) - greatest(a.s, b.s) AS overlap_sec
        |FROM iv a JOIN iv b
        |  ON a.event_id < b.event_id AND a.s <= b.e AND b.s <= a.e""".stripMargin)),

    // gap-based throttle (debounce) ledger — kept iff > 60 s after the
    // key's previous event
    Q("q240_throttle", (s, d) =>
      graft.streaming.Streaming.throttleBatch(T(s, d, "events"), 60L),
      // kept iff first of key or > 60 s after the key's previous event
      Sql("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
        |           FROM events),
        |k AS (SELECT user_id, event_type,
        |             CASE WHEN lag(tus) OVER w IS NULL
        |                    OR tus - lag(tus) OVER w > 60000000 THEN 1 ELSE 0 END AS kept
        |      FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY tus, event_id))
        |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(kept) AS BIGINT) AS n_kept
        |FROM k GROUP BY 1, 2""".stripMargin)),

    // retention triangle: first-active-day cohorts x day offset
    Q("q246_retention", (s, d) =>
      graft.operators.Cohorts.retention(T(s, d, "events"), "user_id",
        "ts"),
      // first-active-day cohorts, per-offset activity + floor-ppm share
      Sql("""WITH act AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
        |             FROM events),
        |coh AS (SELECT u, CAST(min(d) AS BIGINT) AS c FROM act GROUP BY 1),
        |sz AS (SELECT c AS cohort_day, CAST(count(*) AS BIGINT) AS cohort_n
        |       FROM coh GROUP BY 1),
        |r AS (SELECT coh.c AS cohort_day, a.d - coh.c AS day_offset,
        |             CAST(count(*) AS BIGINT) AS n_active
        |      FROM act a JOIN coh ON a.u = coh.u GROUP BY 1, 2)
        |SELECT r.cohort_day, r.day_offset, r.n_active, sz.cohort_n,
        |       (1000000 * r.n_active) // sz.cohort_n AS retention_ppm
        |FROM r JOIN sz USING (cohort_day)""".stripMargin)),

    // first-view -> first-later-purchase latency histogram (hours) +
    // exact median bucket from the cumulative ledger
    Q("q247_convert_latency", (s, d) =>
      graft.operators.Cohorts.convertLatency(T(s, d, "events"),
        "user_id", "event_type", "ts", "view", "purchase"),
      // hour-bucketed first-conversion delays + median bucket
      Sql("""WITH f AS (SELECT user_id AS u, CAST(min(epoch_us(ts)) AS BIGINT) AS f
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |d AS (SELECT e.user_id AS u, CAST(min(epoch_us(e.ts) - f.f) AS BIGINT) AS delay
        |      FROM events e JOIN f ON e.user_id = f.u
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f.f GROUP BY 1),
        |h AS (SELECT delay // 3600000000 AS bucket_h, CAST(count(*) AS BIGINT) AS n_users
        |      FROM d GROUP BY 1),
        |c AS (SELECT bucket_h, n_users,
        |             CAST(sum(n_users) OVER (ORDER BY bucket_h) AS BIGINT) AS cum_users
        |      FROM h),
        |m AS (SELECT CAST(min(bucket_h) AS BIGINT) AS median_bucket_h
        |      FROM c CROSS JOIN (SELECT max(cum_users) AS n FROM c) t
        |      WHERE cum_users >= (n + 1) // 2)
        |SELECT bucket_h, n_users, cum_users, m.median_bucket_h
        |FROM c CROSS JOIN m""".stripMargin)),

    // RFM tercile segmentation census, 27 cells max
    Q("q248_rfm", (s, d) =>
      graft.operators.Cohorts.rfm(T(s, d, "events"), "user_id", "ts",
        "value"),
      // RFM tercile census; boundaries from value-histogram cum counts
      Sql("""WITH per AS (SELECT user_id AS u,
        |                    CAST(max(epoch_us(ts) // 86400000000) AS BIGINT) AS lastd,
        |                    CAST(count(*) AS BIGINT) AS freq,
        |                    CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS BIGINT) AS mon
        |             FROM events GROUP BY 1),
        |mx AS (SELECT CAST(max(lastd) AS BIGINT) AS maxd FROM per),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
        |ft AS (SELECT u, maxd - lastd AS rec, freq, mon // 1000000 AS mband
        |       FROM per CROSS JOIN mx),
        |rh AS (SELECT rec AS v, CAST(count(*) AS BIGINT) AS c FROM ft GROUP BY 1),
        |rt AS (SELECT v AS rec, least(2, (3 * CAST(sum(c) OVER (ORDER BY v) - c AS BIGINT)) // nn.n) AS rec_t
        |       FROM rh CROSS JOIN nn),
        |fh AS (SELECT freq AS v, CAST(count(*) AS BIGINT) AS c FROM ft GROUP BY 1),
        |ftt AS (SELECT v AS freq, least(2, (3 * CAST(sum(c) OVER (ORDER BY v) - c AS BIGINT)) // nn.n) AS freq_t
        |        FROM fh CROSS JOIN nn),
        |mh AS (SELECT mband AS v, CAST(count(*) AS BIGINT) AS c FROM ft GROUP BY 1),
        |mt AS (SELECT v AS mband, least(2, (3 * CAST(sum(c) OVER (ORDER BY v) - c AS BIGINT)) // nn.n) AS mband_t
        |       FROM mh CROSS JOIN nn)
        |SELECT rt.rec_t AS r_t, ftt.freq_t AS f_t, mt.mband_t AS m_t,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM ft JOIN rt USING (rec) JOIN ftt USING (freq) JOIN mt USING (mband)
        |GROUP BY 1, 2, 3""".stripMargin)),

    // EWMA level anomaly over densified hourly event counts (α = 1/4,
    // integer micro-units) — the long-memory detector beside q201's
    // 3-hour window burst rule; per-type bounded array fold, the
    // recurrence replayed by a recursive CTE
    Q("q256_ewma_anomaly", (s, d) =>
      graft.streaming.Streaming.ewmaAnomaly(T(s, d, "events")),
      // densified hourly counts, then the fixed-point recurrence
      // e' = (3e + 1e6 n) // 4 replayed one hour per recursion step;
      // first hour seeds e = 1e6 n with the -1 sentinel and never flags
      Sql("""WITH RECURSIVE cnt AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(h) AS h0, max(h) AS h1
        |         FROM cnt GROUP BY 1),
        |dense AS (SELECT s.event_type,
        |                 unnest(generate_series(s.h0, s.h1)) AS h
        |          FROM span s),
        |dn AS (SELECT d.event_type, d.h, coalesce(c.n, 0) AS n
        |       FROM dense d LEFT JOIN cnt c
        |         ON d.event_type = c.event_type AND d.h = c.h),
        |idx AS MATERIALIZED (
        |  SELECT event_type, h, n,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM dn),
        |st(event_type, rn, e) AS (
        |  SELECT event_type, CAST(1 AS BIGINT), n * 1000000
        |  FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT i.event_type, i.rn, (3 * s.e + 1000000 * i.n) // 4
        |  FROM st s JOIN idx i
        |    ON i.event_type = s.event_type AND i.rn = s.rn + 1
        |)
        |SELECT i.event_type, i.h, i.n,
        |       coalesce(p.e, -1) AS ewma_prev_micro,
        |       CAST(CASE WHEN p.e IS NOT NULL AND i.n * 1000000 > 3 * p.e
        |            THEN 1 ELSE 0 END AS BIGINT) AS spike
        |FROM idx i LEFT JOIN st p
        |  ON p.event_type = i.event_type AND p.rn = i.rn - 1""".stripMargin))
  )
}
