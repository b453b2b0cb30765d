package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TimeSeries

class TimeSeriesSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark
  import spark.implicits._

  test("resampleLocf: dense buckets, zero-filled counts, LOCF values, " +
      "per-key spans") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ev = Seq(
      ("a", ts(0), 1.0), ("a", ts(30), 2.0), // bucket 0: n=2, vc=300
      ("a", ts(610), 4.0),                   // bucket 600; 300 is a GAP
      ("b", ts(900), 7.5))                   // b spans a single bucket
      .toDF("k0", "ts0", "v0")
    val out = TimeSeries.resampleLocf(ev, $"k0", $"ts0", $"v0",
        stepSec = 300L)
      .orderBy($"k", $"bucket")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("a", 0L, 2L, 300L),
      ("a", 300L, 0L, 300L), // gap: zero observations, value carried
      ("a", 600L, 1L, 400L),
      ("b", 900L, 1L, 750L))) // b's span does not bleed into a's
  }

  test("ohlc: open/close from earliest/latest event, timestamp ties " +
      "resolve deterministically (min/max centi-value)") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ev = Seq(
      ("a", ts(10), 5.0), ("a", ts(5), 2.0),   // open = 200 (earliest)
      ("a", ts(50), 9.0), ("a", ts(50), 3.0),  // close tie at 50 → max v = 900
      ("a", ts(5), 4.0),                        // open tie at 5 → min v = 200
      ("b", ts(70), 1.0))                       // next bucket, other key
      .toDF("k0", "ts0", "v0")
    val out = TimeSeries.ohlc(ev, $"k0", $"ts0", $"v0", stepSec = 60L)
      .orderBy($"k", $"bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq == Seq(
      ("a", 0L, 5L, 200L, 900L, 200L, 900L),
      ("b", 60L, 1L, 100L, 100L, 100L, 100L)))
  }

  test("gaps: only silences beyond the threshold, exact gap seconds, " +
      "duplicate timestamps do not fabricate gaps") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(100)), (1L, ts(100)),  // dup ts, gap 0
      (1L, ts(4000)),                              // gap 3900 > 3600
      (2L, ts(0)), (2L, ts(3599)))                 // below threshold
      .toDF("u", "ts0")
    val out = TimeSeries.gaps(ev, $"u", $"ts0", minGapSec = 3600L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq((1L, 100000000L, 4000000000L, 3900L)))
  }

  test("rolling: trailing-window count/sum per event, timestamp peers " +
      "share one frame (RANGE, not ROWS)") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ev = Seq(
      (1L, "a", ts(0), 1.0),
      (2L, "a", ts(30), 2.0),   // window [−30, 30]: rows 1,2
      (3L, "a", ts(30), 3.0),   // PEER of row 2: same frame {1,2,3}
      (4L, "a", ts(100), 4.0),  // window [40, 100]: row 4 only
      (5L, "b", ts(30), 9.0))   // other key
      .toDF("eid", "k0", "ts0", "v0")
    val out = TimeSeries.rolling(ev, $"eid", $"k0", $"ts0", $"v0",
        windowSec = 60L)
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 100L),
      (2L, 3L, 600L), // peers: rows 2 and 3 see identical frames
      (3L, 3L, 600L),
      (4L, 1L, 400L),
      (5L, 1L, 900L)))
  }

  test("retention: keys cohorted to first active bucket, distinct " +
      "counts per offset, repeat events in a bucket count once") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val day = 86400L
    val ev = Seq(
      (1L, ts(10)), (1L, ts(20)),          // u1 cohort day 0 (once)
      (1L, ts(day + 5)),                    // u1 back on day 1
      (2L, ts(50)),                         // u2 cohort day 0, never back
      (3L, ts(day + 100)), (3L, ts(3 * day))) // u3 cohort day 1, back day 3 (offset 2)
      .toDF("u", "ts0")
    val out = TimeSeries.retention(ev, $"u", $"ts0", bucketSec = day)
      .orderBy($"cohort", $"bucket_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (0L, 0L, 2L),        // day-0 cohort: u1, u2
      (0L, 1L, 1L),        // u1 back next day
      (day, 0L, 1L),       // day-1 cohort: u3
      (day, 2L, 1L)))      // u3 back two buckets later
  }

  test("funnel: prefix completion in order, out-of-order steps don't " +
      "count, simultaneous events do") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ev = Seq(
      // u1: full ordered funnel
      (1L, "signup", ts(0)), (1L, "view", ts(10)), (1L, "buy", ts(20)),
      // u2: view BEFORE signup (doesn't count), no view after
      (2L, "view", ts(0)), (2L, "signup", ts(5)), (2L, "buy", ts(9)),
      // u3: signup and view SIMULTANEOUS (counts), then nothing
      (3L, "signup", ts(7)), (3L, "view", ts(7)),
      // u4: never signs up
      (4L, "view", ts(1)), (4L, "buy", ts(2)))
      .toDF("u", "et", "ts0")
    val out = TimeSeries.funnel(ev, $"u", $"ts0", $"et",
        Seq("signup", "view", "buy"))
      .orderBy($"step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (0L, "signup", 3L),  // u1, u2, u3
      (1L, "view", 2L),    // u1, u3 (u2's view precedes signup)
      (2L, "buy", 1L)))    // u1 only
  }

  test("funnelLatency: median half-centi-seconds from funnel start " +
      "per step, interpolated across converters, step 0 lag is 0") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ev = Seq(
      (1L, "signup", ts(0)), (1L, "view", ts(10)), (1L, "buy", ts(20)),
      (2L, "view", ts(0)), (2L, "signup", ts(5)), (2L, "buy", ts(9)),
      (3L, "signup", ts(7)), (3L, "view", ts(7)),
      (4L, "view", ts(1)), (4L, "buy", ts(2)))
      .toDF("u", "et", "ts0")
    val out = TimeSeries.funnelLatency(ev, $"u", $"ts0", $"et",
        Seq("signup", "view", "buy"))
      .orderBy($"step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, "signup", 3L, 0L),
      // converters u1 (10 s = 1000 centi) and u3 (0) → median 500
      // centi-s, reported doubled = 1000
      (1L, "view", 2L, 1000L),
      (2L, "buy", 1L, 4000L))) // u1 only: 2000 centi-s, doubled
  }

  test("funnelLatency: percentile state is bounded by the funnel's " +
      "time range (centi-bucketed lags), not by key cardinality") {
    import org.apache.spark.sql.functions._
    // 20k keys, every lag micros-distinct inside a 60-second funnel:
    // unbucketed, the percentile buffer would hold ~20k distinct
    // values (∝ keys); centi-bucketed it holds at most 6001
    val nKeys = 20000L
    val ev = spark.range(nKeys).select($"id".as("u"),
        timestamp_micros(lit(0L)).as("ts0"), lit("signup").as("et"))
      .unionByName(spark.range(nKeys).select($"id".as("u"),
        // lag = 3 µs · id: 20k distinct micro-lags, all within 60 s
        timestamp_micros($"id" * 3L).as("ts0"), lit("view").as("et")))
    val lagsUs = ev.filter($"et" === "view")
      .select((unix_micros($"ts0") - 0L).as("lag"))
    assert(lagsUs.distinct().count() == nKeys) // raw lags: all distinct
    val bucketed = lagsUs
      .select((($"lag" - $"lag" % 10000L) / 10000L).cast("long").as("c"))
      .distinct().count()
    assert(bucketed <= 6001L) // the state bound: funnel span in centi-s
    val out = TimeSeries.funnelLatency(ev, $"u", $"ts0", $"et",
        Seq("signup", "view"))
      .orderBy($"step").collect()
    // the aggregate the operator actually runs consumes the BUCKETED
    // long, never the raw micro lag: its input plan carries the
    // % 10000 floor-bucket projection
    val plan = TimeSeries.funnelLatency(ev, $"u", $"ts0", $"et",
        Seq("signup", "view"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("% 10000"))
    // median lag over ids 0..19999 at 3 µs/id: ids 9999/10000 → ~3 cs
    // → bucketed values 2 and 3 → percentile 2.5 → doubled 5
    assert(out(1).getLong(2) == nKeys && out(1).getLong(3) == 5L)
  }

  test("funnelWindowed: step events beyond the conversion window " +
      "don't count; an event at exactly su + T does (inclusive edge)") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ev = Seq(
      // u1: view exactly AT the 100 s window edge — converts
      (1L, "signup", ts(0)), (1L, "view", ts(100)),
      // u2: view 1 s past the edge — does NOT convert
      (2L, "signup", ts(0)), (2L, "view", ts(101)),
      // u3: in-window view, then buy within 100 s of the VIEW (the
      // window is per-step, anchored at the previous step, not at
      // the funnel start)
      (3L, "signup", ts(0)), (3L, "view", ts(90)), (3L, "buy", ts(185)),
      // u4: buy 150 s after its view — out of the step window even
      // though only 160 s after signup
      (4L, "signup", ts(0)), (4L, "view", ts(10)), (4L, "buy", ts(160)))
      .toDF("u", "et", "ts0")
    val out = TimeSeries.funnelWindowed(ev, $"u", $"ts0", $"et",
        Seq("signup", "view", "buy"), maxStepGapSec = 100L)
      .orderBy($"step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (0L, "signup", 4L),
      (1L, "view", 3L),   // u1 (edge), u3, u4 — not u2
      (2L, "buy", 1L)))   // u3 only — u4's buy is 150 s after its view
  }

  test("funnelWindowed with a window wider than the data span equals " +
      "the unwindowed funnel (real events table)") {
    val ev = graft.queries.Shared.events(spark, GraftTest.sf0001)
    val steps = Seq("signup", "view", "click", "purchase")
    def run(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"step").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val plain = run(TimeSeries.funnel(ev, col("user_id"), col("ts"),
      col("event_type"), steps))
    val wide = run(TimeSeries.funnelWindowed(ev, col("user_id"),
      col("ts"), col("event_type"), steps,
      maxStepGapSec = 100L * 365 * 86400))
    assert(wide === plain)
    // and a 1-second window strictly tightens every later step
    val tight = run(TimeSeries.funnelWindowed(ev, col("user_id"),
      col("ts"), col("event_type"), steps, maxStepGapSec = 1L))
    tight.zip(plain).foreach { case ((_, _, t), (_, _, p)) =>
      assert(t <= p)
    }
    assert(tight.head._3 == plain.head._3) // step 0 is unbounded
  }

  test("ohlc and gaps accept TIMESTAMP_NTZ time columns") {
    val ntz = Seq((1L, "2024-01-01T10:00:00"), (1L, "2024-01-01T13:00:00"))
      .toDF("u", "s")
      .select(col("u"), to_timestamp_ntz(col("s"),
        lit("yyyy-MM-dd'T'HH:mm:ss")).as("tsn"), lit(1.5).as("v"))
    assert(ntz.schema("tsn").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val g = TimeSeries.gaps(ntz, $"u", $"tsn", minGapSec = 3600L).collect()
    assert(g.length == 1 && g(0).getLong(3) == 10800L)
    val o = TimeSeries.ohlc(ntz, $"u", $"tsn", $"v", stepSec = 3600L)
      .collect()
    assert(o.length == 2 && o.forall(_.getLong(3) == 150L))
  }
}
