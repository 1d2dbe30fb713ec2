package graft

import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** The event-time operators in [[Streaming]], each against rows traced
  * by hand from its input, and the bounded-stream upsert ingest.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming upsert ingest: per-batch MERGE equals one-shot merge") {
    import graft.catalog.LocalCatalog
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L)).toDF("id", "lang", "n")
    val feed = Seq((2L, "xx", 27L), (4L, "xx", 47L), (9L, "xx", 90L))
      .toDF("id", "lang", "n")
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-upsert-cat").toString)
    cat.createOrReplace("t", base)
    val feedDir = Files.createTempDirectory("graft-upsert-feed").toString
    feed.repartition(3).write.mode("overwrite").parquet(feedDir)
    val snaps = Streaming.ingestUpsert(spark, feedDir, feed.schema,
      cat, "t", "id")
    assert(snaps.nonEmpty && snaps == snaps.sorted)
    val got = cat.read(spark, "t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // matched keys updated, new key inserted, untouched rows carried
    assert(got === Set((1L, "a", 10L), (2L, "xx", 27L), (3L, "c", 30L),
      (4L, "xx", 47L), (9L, "xx", 90L)))
  }

  test("sessionizeBatch: hand-traced sessions split at the 30-minute gap") {
    def mk(id: Long, u: Long, ts: String, v: Double) =
      (id, u, Timestamp.valueOf(ts), v)
    val all = Seq(
      mk(1, 1, "2026-01-01 00:00:00", 1.0),
      mk(2, 2, "2026-01-01 00:05:00", 2.0),
      mk(3, 1, "2026-01-01 00:10:00", 3.0),
      mk(4, 2, "2026-01-01 00:20:00", 4.0),
      mk(5, 1, "2026-01-01 02:00:00", 5.0),
      mk(6, 2, "2026-01-01 00:30:00", 6.0),
      mk(98, 1, "2026-01-10 00:00:00", 0.0),
      mk(99, 2, "2026-01-10 00:00:00", 0.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val got = Streaming.sessionizeBatch(all, 30)
      .select(col("user_id"), col("session_start_us"),
        col("session_end_us"), col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    // user 1: 00:00, 00:10 (10 min <= 30, same session, 1+3), 02:00
    // (110 min > 30, new), 01-10 (new); user 2: 00:05, 00:20, 00:30
    // (gaps 15 and 10 min, one session, 2+4+6), 01-10 (new)
    def us(ts: String) = Timestamp.valueOf(ts).getTime * 1000L
    assert(got === Set(
      (1L, us("2026-01-01 00:00:00"), us("2026-01-01 00:10:00"), 2L, 4.0),
      (1L, us("2026-01-01 02:00:00"), us("2026-01-01 02:00:00"), 1L, 5.0),
      (1L, us("2026-01-10 00:00:00"), us("2026-01-10 00:00:00"), 1L, 0.0),
      (2L, us("2026-01-01 00:05:00"), us("2026-01-01 00:30:00"), 3L, 12.0),
      (2L, us("2026-01-10 00:00:00"), us("2026-01-10 00:00:00"), 1L, 0.0)))
  }

  test("dedupBatch: hand-traced first arrival and duplicate count per key") {
    def mk(id: Long, u: Long, t: String, ts: String) =
      (id, u, t, Timestamp.valueOf(ts), 1.0)
    val rows = Seq(
      mk(1, 1, "click", "2026-01-01 00:00:00"),
      mk(2, 1, "click", "2026-01-01 00:05:00"), // dup of (1, click)
      mk(3, 1, "view", "2026-01-01 00:06:00"),
      mk(4, 2, "click", "2026-01-01 00:07:00"),
      mk(5, 2, "click", "2026-01-01 00:20:00"), // dup of (2, click)
      mk(6, 1, "view", "2026-01-01 01:00:00")   // dup of (1, view)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val got = Streaming.dedupBatch(rows, Seq("user_id", "event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // one row per key: the earliest (ts, event_id) event and the key's
    // event count — (1, click) = {1, 2}, (1, view) = {3, 6},
    // (2, click) = {4, 5}
    def us(ts: String) = Timestamp.valueOf(ts).getTime * 1000L
    assert(got === Set(
      (1L, "click", us("2026-01-01 00:00:00"), 1L, 2L),
      (1L, "view", us("2026-01-01 00:06:00"), 3L, 2L),
      (2L, "click", us("2026-01-01 00:07:00"), 4L, 2L)))
  }

  test("late-data quarantine ledger replays the sha-jitter classification") {
    def mk(id: Long, ts: String) = (id, Timestamp.valueOf(ts))
    val rows = Seq(
      mk(1, "2026-01-01 00:00:30"), mk(2, "2026-01-01 00:07:00"),
      mk(3, "2026-01-01 00:09:59"), mk(4, "2026-01-01 00:12:00"),
      mk(5, "2026-01-01 00:15:00"), mk(6, "2026-01-01 00:19:30")
    ).toDF("event_id", "ts")
    val got = Streaming.lateAccounting(rows, "event_id", "ts",
        windowMin = 10, latenessMin = 5, maxJitterMin = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // single-threaded replay of the fixed-delay watermark model
    val expect = Seq(
      (1L, "2026-01-01 00:00:30"), (2L, "2026-01-01 00:07:00"),
      (3L, "2026-01-01 00:09:59"), (4L, "2026-01-01 00:12:00"),
      (5L, "2026-01-01 00:15:00"), (6L, "2026-01-01 00:19:30"))
      .map { case (id, t) =>
        val es = Timestamp.valueOf(t).getTime / 1000L
        val ws = es - es % 600
        val delay = es + (Oracles.sha60(id.toString) % 20) * 60 - (ws + 600)
        (ws, if (delay <= 0) 0 else if (delay <= 300) 1 else 2)
      }
      .groupBy(_._1).map { case (ws, g) =>
        ws -> ((g.count(_._2 == 0).toLong, g.count(_._2 == 1).toLong,
          g.count(_._2 == 2).toLong))
      }
    assert(got === expect)
    // the jitter spread actually exercises all three classes
    val totals = got.values.foldLeft((0L, 0L, 0L)) { case (a, b) =>
      (a._1 + b._1, a._2 + b._2, a._3 + b._3) }
    assert(totals._1 + totals._2 + totals._3 === 6L)
  }

  test("ewmaAnomaly: hand-traced fixed-point trace with a silent hour") {
    // type a: hour 0 four events (seed e=4e6), hour 1 SILENT (densified,
    // decays e to 3e6), hour 2 one event (e -> 2.5e6), hour 3 ten events
    // (10e6 > 3*2.5e6 -> spike, e -> (7.5e6+10e6)/4)
    def ev(h: Long, k: Int): Seq[(String, Long)] =
      Seq.fill(k)(("a", h * 3600L + 7L))
    val events = (ev(0, 4) ++ ev(2, 1) ++ ev(3, 10))
      .toDF("event_type", "sec")
      .select(col("event_type"), to_timestamp(col("sec")).as("ts"))
    val got = Streaming.ewmaAnomaly(events)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(got === Array(
      (0L, 4L, -1L, 0L),
      (1L, 0L, 4000000L, 0L),
      (2L, 1L, 3000000L, 0L),
      (3L, 10L, 2500000L, 1L)))
  }

  test("attributionBatch: hand-traced credits in the half-open window") {
    def mk(id: Long, u: Long, t: String, ts: String) =
      (id, u, t, Timestamp.valueOf(ts), 0.0)
    val rows = Seq(
      mk(1, 1, "view", "2026-01-01 00:00:00"),
      mk(2, 1, "click", "2026-01-01 00:03:00"), // credits view 1
      mk(3, 1, "view", "2026-01-01 00:05:00"),
      mk(4, 1, "click", "2026-01-01 00:06:00"), // credits view 3 only
      mk(5, 2, "click", "2026-01-01 00:01:00"), // no prior view
      mk(6, 2, "view", "2026-01-01 00:10:00"),  // no later click
      mk(7, 1, "click", "2026-01-01 00:05:00")  // ties view 3: NOT > its ts
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    // window (view_ts, view_ts + 5 min]: view 1 takes clicks 2 (00:03)
    // and 7 (00:05, the closed end); click 4 (00:06) falls past it, so
    // only view 3 (00:05) takes it
    val got = Streaming.attributionBatch(rows, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got == Set((1L, 1L, 2L), (1L, 1L, 7L), (1L, 3L, 4L)))
  }

  test("throttleBatch: hand-traced gap ledger per key") {
    def mk(id: Long, u: Long, t: String, ts: String) =
      (id, u, t, Timestamp.valueOf(ts), 1.0)
    val all = Seq(
      mk(1, 1, "click", "2026-01-01 00:00:00"),
      mk(2, 1, "view", "2026-01-01 00:00:10"),
      mk(3, 1, "click", "2026-01-01 00:00:30"),
      mk(4, 1, "click", "2026-01-01 00:00:50"),
      mk(5, 2, "click", "2026-01-01 00:01:00"),
      mk(6, 1, "click", "2026-01-01 00:03:20")
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    // user 1 click: 0s (first, keep), 30s (drop), 50s (drop — 20s after
    // the PREVIOUS event, kept or not), 200s (150s > 60, keep): 4 events,
    // 2 kept; user 1 view at 10s and user 2 click are their keys' first
    val got = Streaming.throttleBatch(all, 60)
      .collect().map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map((1L, "click") -> ((4L, 2L)),
      (1L, "view") -> ((1L, 1L)), (2L, "click") -> ((1L, 1L))))
  }

  test("intervalOverlap: binned pairs equal brute force, counted once") {
    // intervals crafted around the 512 s bin boundary: a pair overlapping
    // ACROSS bins must appear exactly once
    def mk(id: Long, startSec: Long, durSec: Double) =
      (id, 1L, "op", new Timestamp(startSec * 1000L), durSec)
    val rows = Seq(
      mk(1, 100, 50.0),   // [100,150]
      mk(2, 120, 10.9),   // [120,130] overlaps 1
      mk(3, 500, 100.0),  // [500,600] spans bins 0/1
      mk(4, 590, 5.0),    // [590,595] bin 1, overlaps 3
      mk(5, 145, 400.0),  // [145,545] overlaps 1, 3 (145<=150, 500<=545)
      mk(6, 2000, 1.0))   // isolated
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val got = Streaming.intervalOverlap(rows, binSec = 512)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // no pair twice
    assert(got.map(p => (p._1, p._2)).distinct.length === got.length)
    val expected = Set((1L, 2L, 10L), (3L, 4L, 5L), (1L, 5L, 5L),
      (3L, 5L, 45L))
    assert(got.toSet === expected)
  }
}
