package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Event-time operators over the `events` table, plus the CDC upsert
  * ingest.
  *
  * The reference is batch-only (SURVEY §2.9 — its closest analogs are the
  * periodic `sys_sync` telemetry timers, `core/slave.tpp:893-964`). Every
  * operator here is a batch plan that a query calls: sessionization,
  * sliding windows, first-arrival dedup, attribution and interval-overlap
  * joins, the late-data ledger, the gap throttle and the EWMA detector.
  * [[ingestUpsert]] is the one Structured Streaming path: a bounded file
  * stream MERGEd into the catalog batch by batch (q161).
  */
object Streaming {

  /** Sliding event-time windows (length `windowMin`, step `slideMin`) per
    * event type — each event lands in windowMin/slideMin overlapping
    * windows, all epoch-aligned on the slide like Spark's `window()`
    * semantics on a real cluster.
    *
    * Scale shape: the window expansion is a per-row generator (Expand,
    * inside codegen — windowMin/slideMin rows per event, a small constant)
    * followed by ONE hash aggregation keyed by (window, type) with
    * map-side combine; no self-join, no range join, no global sort. */
  def slidingAgg(events: DataFrame, windowMin: Int, slideMin: Int)
      : DataFrame =
    events
      .groupBy(window(col("ts"), s"$windowMin minutes",
        s"$slideMin minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Batch sessionization: per user, events more than `gapMinutes` apart
    * start a new session. Lag/cumulative-sum windows hash-partitioned by
    * user (scales per key, no global window); total order (ts, event_id)
    * + explicit ROWS frame so the plan is deterministic under ties. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("tus", unix_micros(col("ts").cast("timestamp")))
      .withColumn("pus", lag(unix_micros(col("ts").cast("timestamp")), 1).over(ord))
      .withColumn("ns",
        when(col("pus").isNull || col("tus") - col("pus") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sess_no", sum(col("ns")).over(cum))
      .groupBy(col("user_id"), col("sess_no"))
      .agg(min(col("tus")).as("session_start_us"),
        max(col("tus")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("sum_value"))
  }

  /** First-arrival dedup: per dedup key, the first event in
    * (ts, event_id) order plus the duplicate count — ONE hash aggregation
    * with map-side combine (min over a (tus, event_id) struct — argmin,
    * no per-key window/sort), deterministic under ties by the event_id
    * tiebreak. */
  def dedupBatch(events: DataFrame, keys: Seq[String]): DataFrame =
    events
      .withColumn("tus", unix_micros(col("ts").cast("timestamp")))
      .groupBy(keys.map(col): _*)
      .agg(min(struct(col("tus"), col("event_id"))).as("f"),
        count(lit(1)).as("n_dups"))
      .select(keys.map(col) ++ Seq(col("f.tus").as("first_ts_us"),
        col("f.event_id").as("first_event_id"), col("n_dups")): _*)

  /** Fixed-delay watermark accounting — the late-data quarantine ledger
    * every production stream needs next to its windowed aggregates:
    * per tumbling EVENT-time window, how many rows arrived on time, how
    * many landed late but inside the allowed lateness (the stream
    * updates the window), and how many a `withWatermark(latenessMin)`
    * stream would have DROPPED (the quarantine the batch backfill must
    * re-ingest). Arrival time is deterministic — event time plus a
    * sha-derived per-event delay of 0..maxJitterMin-1 minutes — so the
    * ledger is bit-exactly oracle-replayable; a real deployment feeds
    * the observed ingest timestamp instead. All-integer epoch-second
    * arithmetic, one aggregation, no state. (A micro-batch stream's
    * actual drop set is ≤ this ledger's: its watermark only advances
    * between batches — this is the steady-state bound.) */
  def lateAccounting(events: DataFrame, idCol: String, tsCol: String,
                     windowMin: Int, latenessMin: Int,
                     maxJitterMin: Int): DataFrame = {
    val w = windowMin * 60L
    // integral floor of the micros clock (events carry sub-second
    // precision; unix_micros div is the DuckDB epoch_us // twin)
    val es = expr(s"unix_micros(CAST($tsCol AS TIMESTAMP)) div 1000000L")
    val jitter = pmod(graft.text.Dedup.shaTokenHash60(
      col(idCol).cast("string")), lit(maxJitterMin.toLong)) * 60L
    events
      .select((es - pmod(es, lit(w))).as("window_start_es"),
        (es + jitter).as("arrival_es"))
      .withColumn("delay",
        col("arrival_es") - (col("window_start_es") + w))
      .groupBy(col("window_start_es"))
      .agg(sum(when(col("delay") <= 0L, 1L).otherwise(0L)).as("n_on_time"),
        sum(when(col("delay") > 0L &&
          col("delay") <= latenessMin * 60L, 1L).otherwise(0L))
          .as("n_late_accepted"),
        sum(when(col("delay") > latenessMin * 60L, 1L).otherwise(0L))
          .as("n_dropped"))
  }

  /** Attribution interval join: every (view, click) pair of
    * the SAME user with the click in (view_ts, view_ts + windowMin] —
    * "which impressions get credit for this click". A user-keyed
    * equi-join plus a range predicate: the range condition never leaves
    * the user key, per-user event counts are bounded, so at 100 TB this
    * shuffles each side once by user and nothing else. */
  def attributionBatch(events: DataFrame, windowMin: Int): DataFrame = {
    val wUs = windowMin * 60L * 1000000L
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("view_us"),
        col("event_id").as("view_id"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("click_us"),
        col("event_id").as("click_id"))
    views.join(clicks, Seq("user_id"))
      .filter(col("click_us") > col("view_us") &&
        col("click_us") <= col("view_us") + wUs)
      .select(col("user_id"), col("view_id"), col("view_us"),
        col("click_id"), col("click_us"))
  }

  /** Streaming UPSERT ingest (CDC-feed application): each micro-batch is
    * MERGEd into the catalog table by `key` (matched keys update, new
    * keys insert) — the lakehouse pattern for applying a change feed
    * continuously, one committed snapshot per batch, full history
    * time-travelable. With at most one feed row per key the final state
    * is independent of how the source files split into micro-batches
    * (each key merges exactly once), which is what makes the bounded run
    * oracle-replayable. Bounded run (processAllAvailable + stop);
    * returns committed snapshot ids in commit order. */
  def ingestUpsert(spark: SparkSession, dir: String, schema: StructType,
                   catalog: graft.catalog.CatalogAdapter,
                   table: String, key: String): Seq[Long] = {
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          snaps += catalog.merge(spark, table, batch.toDF(), key)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    snaps.toSeq
  }

  /** Cross-key interval-OVERLAP self-join: every pair of events whose
    * derived time intervals [start, start + floor(value) sec] intersect,
    * with the overlap length — concurrency analysis (which operations ran
    * at the same time) where [[attributionBatch]]'s per-user range join
    * does not apply because there is NO shared equi-key to join on.
    *
    * Scale shape: Spark has no native band/interval join, and the naive
    * plan is an all-pairs cross join with a range predicate. The classic
    * fix is TIME BINNING: each interval explodes to the `binSec`-wide
    * bins it touches (≤ 2 bins when binSec ≥ the max duration), pairs
    * meet through a bin equi-join, and each qualifying pair is counted
    * exactly once — only in the bin containing the LATER of the two
    * starts — so no dedup shuffle is needed. Work is Σ per-bin c², the
    * true pair density; binSec trades replication (long intervals touch
    * more bins) against bin population, and a production run sizes it
    * near the duration p99 and caps pathological bins the same way
    * [[graft.text.Dedup]] caps LSH buckets. All-integer epoch-second
    * arithmetic (`floor(value)` whole seconds, closed endpoints). */
  def intervalOverlap(events: DataFrame, binSec: Int = 512): DataFrame = {
    val w = binSec.toLong
    // dur clamped at 0: a negative value would invert the interval
    // (e < s), and while the descending sequence() still explodes bins,
    // the count-once bin predicate can fall outside the inverted range
    // and silently drop pairs a direct range predicate emits
    val iv = events.select(col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000L").as("s"),
        greatest(lit(0L), floor(col("value")).cast("long")).as("dur"))
      .select(col("event_id"), col("s"), (col("s") + col("dur")).as("e"))
    val binned = iv.select(col("event_id"), col("s"), col("e"),
      explode(expr(s"sequence(s div ${w}L, e div ${w}L)")).as("bin"))
    binned.as("a")
      .join(binned.as("b"),
        col("a.bin") === col("b.bin") &&
          col("a.event_id") < col("b.event_id") &&
          col("a.s") <= col("b.e") && col("b.s") <= col("a.e") &&
          col("a.bin") === expr("greatest(a.s, b.s) div " + w + "L"))
      .select(col("a.event_id").as("e1"), col("b.event_id").as("e2"),
        (least(col("a.e"), col("b.e")) -
          greatest(col("a.s"), col("b.s"))).as("overlap_sec"))
  }

  /** Gap-based THROTTLE ledger: per (user, event_type), an
    * event is KEPT iff it is the key's first or arrived more than
    * `gapSec` after the key's previous event — the rate-limit /
    * debounce operator (alert suppression, at-most-one-per-interval
    * sampling), distinct from [[dedupBatch]] (first arrival wins
    * forever) and sessionization (which groups, not filters). The gap
    * is measured from the previous EVENT, kept or not, so the decision
    * depends only on the predecessor — a per-key `lag` window
    * (per-key cardinality is bounded; the window never sees the whole
    * table). Returns (user_id, event_type, n_events, n_kept). */
  def throttleBatch(events: DataFrame, gapSec: Long): DataFrame = {
    val ord = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("tus"), col("event_id"))
    events
      .withColumn("tus", unix_micros(col("ts").cast("timestamp")))
      .withColumn("pus", lag(col("tus"), 1).over(ord))
      .withColumn("kept",
        when(col("pus").isNull ||
          col("tus") - col("pus") > gapSec * 1000000L, 1L).otherwise(0L))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("kept")).as("n_kept"))
  }

  /** EWMA anomaly ledger over hourly event-type counts — the
    * exponentially-weighted moving average detector telemetry pipelines
    * run next to the window-burst rule ([[SparkEntry]] q201): where the
    * burst rule compares an hour to its trailing 3-hour SUM (forgets
    * everything older), the EWMA carries the whole history at
    * geometrically decaying weight (α = 1/4), so a slow ramp that never
    * doubles any 3-hour window still eventually reads as a spike against
    * its long-run level — and a recovered level stops flagging.
    *
    * All-integer fixed point, replayable bit-for-bit: the state is the
    * EWMA in micro-units, e' = (3·e + 10⁶·n) div 4 (truncating div), an
    * hour is a spike when 10⁶·n > 3·e_prev (count above 3× the level
    * BEFORE the hour), the first hour seeds e = 10⁶·n and never flags
    * (ewma_prev_micro = −1 sentinel).
    *
    * Scale shape: hours are DENSIFIED per type (a silent hour must decay
    * the level — dropping it would freeze the detector), then the
    * recurrence folds a per-type sorted (hour, count) array with
    * `aggregate` — sequential by nature, but the array is bounded by the
    * time span (hours per type: the telemetry grain, never per-event),
    * exactly the bounded-per-key exception [[sessionizeBatch]]'s windows
    * already use. One corpus aggregation + one |types|-row fold.
    * @return (event_type, h, n, ewma_prev_micro, spike) */
  def ewmaAnomaly(events: DataFrame): DataFrame = {
    val cnt = events.groupBy(col("event_type"),
        expr("unix_timestamp(ts) div 3600L").as("h"))
      .agg(count(lit(1)).as("n"))
    val dense = cnt.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
      .join(cnt, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("n"), lit(0L)).as("n"))
    dense.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("h"), col("n")))).as("xs"))
      .select(col("event_type"), expr(
        """aggregate(xs,
          |  named_struct('e', -1L,
          |    'out', CAST(array() AS
          |      ARRAY<STRUCT<h: BIGINT, n: BIGINT,
          |                   ewma_prev_micro: BIGINT, spike: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    'e', CASE WHEN acc.e < 0L THEN x.n * 1000000L
          |              ELSE (3L * acc.e + 1000000L * x.n) div 4L END,
          |    'out', concat(acc.out, array(named_struct(
          |      'h', x.h, 'n', x.n,
          |      'ewma_prev_micro', CASE WHEN acc.e < 0L THEN -1L
          |                              ELSE acc.e END,
          |      'spike', CASE WHEN acc.e >= 0L AND x.n * 1000000L > 3L * acc.e
          |               THEN 1L ELSE 0L END)))),
          |  acc -> acc.out)""".stripMargin).as("out"))
      .select(col("event_type"), explode(col("out")).as("r"))
      .select(col("event_type"), col("r.h").as("h"), col("r.n").as("n"),
        col("r.ewma_prev_micro").as("ewma_prev_micro"),
        col("r.spike").as("spike"))
  }
}
