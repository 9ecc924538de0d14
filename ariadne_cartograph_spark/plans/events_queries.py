"""Temporal/event operator surface (SURVEY.md §2.6 batch analogs + J6
as-of join). The streaming twins of these queries live in
``ariadne_cartograph_spark.streaming``; these batch forms are the
oracle-checkable semantics contract.

Cross-engine determinism notes:
- time arithmetic is done on ``unix_micros`` BIGINTs (exact), never on
  seconds-as-double casts (engine-dependent);
- window bucketing uses epoch-aligned origins in both engines
  (Spark ``window()`` and DuckDB ``time_bucket`` agree on alignment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.time import micros
from ..functions.money import money_sum
from ..operators.asof import asof_join
from ..operators.sessionize import session_bounds, sessionize
from ..sources.tables import load_table
from .catalog import register

# --------------------------------------------------------------------------
# As-of join: for each purchase, the latest signup at-or-before it for
# the same user. One shuffle (union + window), no candidate-pair blowup
# — see operators/asof.py for the scale analysis.
# --------------------------------------------------------------------------


@register(
    "asof_purchase_after_signup",
    headline=True,
    tags=["J6"],
    oracle="""
SELECT p.event_id, p.user_id,
       round(p.value, 2) AS purchase_value,
       s.ts AS signup_ts,
       epoch_us(p.ts) - epoch_us(s.ts) AS micros_since_signup
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
ORDER BY p.event_id
""",
)
def asof_purchase_after_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join(purchases, signups, on="user_id", left_ts="ts", right_ts="ts")
    return (
        joined.select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("purchase_value"),
            F.col("ts_r").alias("signup_ts"),
            (micros("ts") - micros("ts_r")).alias("micros_since_signup"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# NEAREST as-of join with tolerance (J6 depth — the other half of the
# temporal-join family: backward as-of answers "state as of t", nearest
# answers "the reading closest to t", sensor/attribution semantics).
# For every click, the purchase in the same user whose timestamp is
# nearest within ±2 h; exact-diff ties prefer the earlier purchase.
# Engine: operators/asof.asof_nearest_join — nearest = best of one
# backward and one forward windowed pass over a single union (one
# shuffle, two local sorts, NO range-join pair explosion). Oracle: two
# native DuckDB ASOF joins (the forward one over negated epoch micros)
# combined with the same tie rule — an independent formulation of both
# passes. The right side is pre-aggregated per (user, ts) so "the"
# nearest row is well-defined (the operator's determinism contract).
# --------------------------------------------------------------------------

_NEAREST_TOL_S = 7200


@register(
    "asof_nearest_purchase",
    tags=["J6", "W3"],
    oracle=f"""
WITH clicks AS (SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'),
pur AS (SELECT user_id, ts,
               CAST(min(event_id) AS BIGINT) AS pid,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts),
b AS (SELECT c.event_id, p.ts AS mts, p.pid, p.cents
      FROM clicks c ASOF LEFT JOIN pur p
        ON c.user_id = p.user_id AND c.ts >= p.ts),
f AS (SELECT c.event_id, p.ts AS mts, p.pid, p.cents
      FROM (SELECT event_id, user_id, -epoch_us(ts) AS nts FROM clicks) c
      ASOF LEFT JOIN
           (SELECT user_id, -epoch_us(ts) AS nts, ts, pid, cents FROM pur) p
        ON c.user_id = p.user_id AND c.nts >= p.nts),
m AS (SELECT c.event_id, c.user_id, c.ts,
             b.mts AS bts, b.pid AS bpid, b.cents AS bcents,
             f.mts AS fts, f.pid AS fpid, f.cents AS fcents,
             epoch_us(c.ts) - epoch_us(b.mts) AS db,
             epoch_us(f.mts) - epoch_us(c.ts) AS df,
             (b.mts IS NOT NULL AND epoch_us(c.ts) - epoch_us(b.mts)
                <= {_NEAREST_TOL_S}::BIGINT * 1000000) AS ok_b,
             (f.mts IS NOT NULL AND epoch_us(f.mts) - epoch_us(c.ts)
                <= {_NEAREST_TOL_S}::BIGINT * 1000000) AS ok_f
      FROM clicks c
      JOIN b ON b.event_id = c.event_id
      JOIN f ON f.event_id = c.event_id)
SELECT event_id, user_id,
       CASE WHEN ok_b AND (NOT ok_f OR db <= df) THEN bpid
            WHEN ok_f THEN fpid END AS purchase_id,
       CASE WHEN ok_b AND (NOT ok_f OR db <= df) THEN -db
            WHEN ok_f THEN df END AS delta_us,
       CASE WHEN ok_b AND (NOT ok_f OR db <= df) THEN bcents
            WHEN ok_f THEN fcents END AS purchase_cents
FROM m ORDER BY event_id
""",
)
def asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_nearest_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.min("event_id").cast("long").alias("pid"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    j = asof_nearest_join(
        clicks, pur, on="user_id", left_ts="ts", right_ts="ts",
        tolerance_s=_NEAREST_TOL_S,
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("pid_r").alias("purchase_id"),
        (micros("ts_r") - micros("ts")).alias("delta_us"),
        F.col("cents_r").alias("purchase_cents"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Equi-depth histogram (A5 — the ANALYZE/feature-binning shape):
# 8-bucket boundaries from EXACT interpolated septiles-of-eighths on
# integer cents (half-integers, exact f64 on both engines), bucket
# assignment by strict count-of-boundaries-below (int vs half-int
# comparisons never tie ambiguously), per-bucket count + min/max.
# The boundary row never touches the driver: a 1-row aggregate
# broadcast-crossJoined into the scan, bucket id = size(filter(...))
# — pure column math, two passes total (the quantile agg + the
# bucketed count), the same shape at 100 TB.
# --------------------------------------------------------------------------


@register(
    "events_equidepth_histogram",
    tags=["A5", "A1"],
    oracle="""
WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
b AS (SELECT quantile_cont(cents, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875])
        AS bnd FROM c)
SELECT CAST(len(list_filter(b.bnd, x -> c.cents > x)) AS INTEGER) AS bucket,
       count(*) AS n,
       min(c.cents) AS min_cents,
       max(c.cents) AS max_cents
FROM c, b
GROUP BY bucket ORDER BY bucket
""",
)
def events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    qs = [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]
    bnd = ev.agg(
        F.percentile("cents", F.array(*[F.lit(q) for q in qs])).alias("bnd")
    )
    bucket = F.size(
        F.filter(F.col("bnd"), lambda x: F.col("cents").cast("double") > x)
    ).cast("int")
    return (
        ev.crossJoin(F.broadcast(bnd))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# First-order Markov transition estimation over per-user event
# sequences (W3+A5 — the sequence-model estimation shape behind
# next-event prediction and funnel modeling): lag window per user
# ordered by (ts, event_id) (the deterministic tiebreak every ordered
# window here uses), transition counts exact ints, row-normalized
# probabilities as f32 (one int/int f64 divide, IEEE-identical).
# --------------------------------------------------------------------------


@register(
    "events_markov_transitions",
    tags=["W3", "A5"],
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
c AS (SELECT prev, event_type, count(*) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
t AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY prev)
SELECT c.prev, c.event_type, c.n,
       CAST(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS FLOAT) AS prob
FROM c JOIN t ON c.prev = t.prev
ORDER BY c.prev, c.event_type
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    c = seq.groupBy("prev", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("prev").agg(F.sum("n").cast("bigint").alias("tot"))
    return (
        c.join(F.broadcast(t), "prev")
        .select(
            "prev",
            "event_type",
            "n",
            (F.col("n").cast("double") / F.col("tot").cast("double"))
            .cast("float")
            .alias("prob"),
        )
        .orderBy("prev", "event_type")
    )


# --------------------------------------------------------------------------
# Gap-based sessionization (T2/T4 batch analog).
# --------------------------------------------------------------------------

_SESSION_GAP_SEC = 3600


@register(
    "sessionize_bounds",
    headline=True,
    tags=["T2", "W3"],
    oracle=f"""
WITH tagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                >= {_SESSION_GAP_SEC}::BIGINT * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events),
sess AS (
  -- DuckDB sum(int) yields HUGEINT (int128), which Arrow canonicalizes
  -- differently from Spark's int64 — cast every integer sum to BIGINT.
  SELECT user_id, ts, event_id,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM tagged)
SELECT user_id, session_seq,
       min(ts) AS session_start,
       max(ts) AS session_end,
       (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0 AS duration_sec,
       count(*) AS n_events
FROM sess
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
""",
)
def sessionize_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return session_bounds(
        ev, key="user_id", ts="ts", gap_seconds=_SESSION_GAP_SEC, order_tiebreak="event_id"
    ).orderBy("user_id", "session_seq")


@register(
    "sessionize_user_stats",
    tags=["T2", "W3", "A5"],
    oracle=f"""
WITH tagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                >= {_SESSION_GAP_SEC}::BIGINT * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events),
sess AS (
  SELECT user_id, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM tagged)
SELECT user_id,
       CAST(max(session_seq) AS BIGINT)    AS n_sessions,
       count(*)                            AS n_events,
       CAST(count(*) AS DOUBLE) / CAST(max(session_seq) AS BIGINT) AS events_per_session,
       CAST(round(sum(CAST(value AS DECIMAL(27,2))), 2) AS DOUBLE) AS total_value
FROM sess
GROUP BY user_id
ORDER BY user_id
""",
)
def sessionize_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts="ts", gap_seconds=_SESSION_GAP_SEC, order_tiebreak="event_id")
    return (
        s.groupBy("user_id")
        .agg(
            F.max("session_seq").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
            (F.count(F.lit(1)).cast("double") / F.max("session_seq")).alias(
                "events_per_session"
            ),
            money_sum("value").alias("total_value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Event-time windows, batch analogs (T2). Spark `window()` and DuckDB
# `time_bucket` are both epoch-aligned, so the buckets coincide.
# --------------------------------------------------------------------------


@register(
    "events_tumbling_hourly",
    headline=True,
    tags=["T2"],
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
       event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(27,2))), 2) AS DOUBLE) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY win_start, event_type
""",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("value").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value", "n_users")
        .orderBy("win_start", "event_type")
    )


@register(
    "events_sliding_hourly",
    tags=["T2"],
    oracle="""
SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS win_start,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(27,2))), 2) AS DOUBLE) AS total_value
FROM events
CROSS JOIN (VALUES (0), (1)) offsets(k)
GROUP BY 1
ORDER BY win_start
""",
)
def events_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "n", "total_value")
        .orderBy("win_start")
    )


# --------------------------------------------------------------------------
# Interval join (J6 + T2 batch analog of the stream-stream join in
# streaming/events.py): equi-join on user + event-time band. Planned as
# a hash join on user_id with the band as a post-join filter — the
# range never explodes into a cross product. The streaming twin holds
# both sides in watermark-bounded state.
# --------------------------------------------------------------------------


@register(
    "events_click_purchase_interval",
    tags=["J6", "T2"],
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       round(p.value, 2) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
ORDER BY click_id, purchase_id
""",
)
def events_click_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from ..streaming.events import click_purchase_interval_join

    return click_purchase_interval_join(ev, horizon="30 minutes").orderBy(
        "click_id", "purchase_id"
    )


# --------------------------------------------------------------------------
# Median + broadcast-normalize — the reference's A1/A2/A3 aggregation
# pattern (update_ways_metadata.py:29-33) transplanted onto `events`:
# exact per-group median, global max, divide. The global scalar is
# attached via crossJoin(broadcast(...)) — no single-partition window.
# --------------------------------------------------------------------------


@register(
    "events_median_normalize",
    tags=["A1", "A2", "A3"],
    oracle="""
WITH med AS (
  SELECT event_type, median(value) AS median_value
  FROM events GROUP BY event_type),
gmax AS (SELECT max(median_value) AS gmax FROM med)
SELECT event_type,
       CAST(median_value AS FLOAT) AS median_value,
       CAST(median_value / gmax AS FLOAT) AS normalized
FROM med, gmax
ORDER BY event_type
""",
)
def events_median_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("median_value"))
    gmax = med.agg(F.max("median_value").alias("gmax"))
    return (
        med.crossJoin(F.broadcast(gmax))
        .select(
            "event_type",
            F.col("median_value").cast("float").alias("median_value"),
            (F.col("median_value") / F.col("gmax")).cast("float").alias("normalized"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Driver-visible STREAMING evidence (S11/T1-T5): these entries run a
# real Structured Streaming query (file source → event-time windows /
# stateful dedup → availableNow trigger → memory sink) inside the
# catalog callable and return the drained result; the oracle is the
# equivalent batch SQL. Stream/batch equivalence therefore passes
# through the driver's value-hash gate, not only pytest.
# --------------------------------------------------------------------------


def _staged_stream(spark: SparkSession, sf_dir: str, copies: int = 1):
    """Stage the events table as a replayable parquet file-stream
    source (native µs timestamps); ``copies`` > 1 appends duplicate
    files to exercise dedup. Staging is a pure function of the input,
    so one keyed work directory per (sf_dir, copies) serves every call
    in the process."""
    import os

    from ..session import work_dir
    from ..streaming.events import read_events_stream, stage_events_as_stream_source

    def build(stage: str) -> None:
        stage_events_as_stream_source(spark, sf_dir, stage)
        if copies > 1:
            ev = load_table(spark, sf_dir, "events")
            for _ in range(copies - 1):
                ev.write.mode("append").parquet(stage)

    key = ("events_stage", os.path.abspath(sf_dir), copies)
    return read_events_stream(spark, work_dir(key, build))


@register(
    "events_stream_batch_parity",
    tags=["S11", "T1", "T2", "T3", "T5"],
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
       event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(27,2))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY win_start, event_type
""",
)
def events_stream_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation drained with
    availableNow into a memory sink, hash-checked against the batch
    SQL oracle. Complete output mode re-emits every window at the
    final trigger, so the drained table equals the batch result while
    the watermark still bounds state the way the production (Update-
    mode) sink would; the late-drop semantics themselves are pinned in
    tests/test_streaming.py."""
    import uuid

    from ..streaming.events import run_to_memory, tumbling_counts

    stream = _staged_stream(spark, sf_dir)
    name = "stream_parity_" + uuid.uuid4().hex[:8]
    run_to_memory(tumbling_counts(stream), name, output_mode="complete")
    return spark.table(name).orderBy("win_start", "event_type")


@register(
    "events_stream_dedup_parity",
    tags=["T4", "T5"],
    oracle="""
SELECT event_type, count(*) AS n_unique
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def events_stream_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the source is staged with every event
    DUPLICATED (two file copies); dropDuplicatesWithinWatermark on
    event_id must collapse each pair to one row, so per-type counts of
    the drained sink equal the batch table's counts. A dedup
    regression (double or zero emission) flips every count."""
    import uuid

    from pyspark.sql import functions as SF

    from ..streaming.events import dedup_events, run_to_memory

    stream = _staged_stream(spark, sf_dir, copies=2)
    name = "stream_dedup_" + uuid.uuid4().hex[:8]
    run_to_memory(dedup_events(stream), name, output_mode="append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(SF.count(SF.lit(1)).alias("n_unique"))
        .orderBy("event_type")
    )


@register(
    "events_stream_enrich_parity",
    tags=["T1", "T5", "S11", "J6"],
    oracle="""
SELECT CAST(CASE WHEN user_id % 3 = 0 THEN -1
            ELSE user_id % 5 END AS INT) AS tier,
       event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(27,2))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY tier, event_type
""",
)
def events_stream_enrich_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join under the driver hash
    (streaming/events.enrich_with_dimension): the event stream joins a
    PARTIAL user-tier dimension (user_id % 3 == 0 users deliberately
    absent) broadcast per micro-batch — no state store, the
    zero-shuffle streaming enrichment path — then aggregates per
    (tier, type) in complete mode. Missing members surface as NULL
    tier → coalesced to −1, so the left-join presence semantics are
    load-bearing in the hash: an inner-join regression would drop the
    −1 group entirely, a wrong broadcast would mis-tier every user."""
    import uuid

    from pyspark.sql import functions as SF

    from ..streaming.events import enrich_with_dimension, run_to_memory

    stream = _staged_stream(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select("user_id")
        .distinct()
        .filter(SF.col("user_id") % 3 != 0)
        .withColumn("tier", (SF.col("user_id") % 5).cast("int"))
    )
    enriched = enrich_with_dimension(stream, dim, "user_id", "user_id", ["tier"])
    agg = (
        enriched.groupBy(
            SF.coalesce(SF.col("tier"), SF.lit(-1)).cast("int").alias("tier"),
            "event_type",
        )
        .agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.round(SF.sum(SF.col("value").cast("decimal(27,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )
    name = "stream_enrich_" + uuid.uuid4().hex[:8]
    run_to_memory(agg, name, output_mode="complete")
    return spark.table(name).orderBy("tier", "event_type")


@register(
    "events_stream_session_parity",
    headline=True,
    tags=["T2", "T3", "T5", "S11"],
    oracle=f"""
WITH tagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts)
                >= {_SESSION_GAP_SEC}::BIGINT * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events),
sess AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM tagged)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {_SESSION_GAP_SEC} SECOND AS session_end,
       count(*) AS n_events
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
)
def events_stream_session_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming session_window aggregation (gap = the same
    3600s the batch sessionize entries use) drained with availableNow
    in complete mode, hash-checked against a batch DuckDB sessionize:
    session_window's end is last_ts + gap, and its merge rule starts a
    NEW session when the gap is >= the threshold — the exact inclusive
    boundary operators/sessionize.py matches (the r1 boundary deviation,
    fixed and pinned since). The r1 session FAIL story closes here with
    the STREAMING operator itself under the driver's value hash."""
    import uuid

    from ..streaming.events import run_to_memory, session_agg

    stream = _staged_stream(spark, sf_dir)
    name = "stream_session_" + uuid.uuid4().hex[:8]
    run_to_memory(session_agg(stream, gap="1 hour"), name, output_mode="complete")
    return spark.table(name).orderBy("user_id", "session_start")


@register(
    "events_stream_interval_join_parity",
    tags=["T2", "T5", "J6"],
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       round(p.value, 2) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
ORDER BY click_id, purchase_id
""",
)
def events_stream_interval_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-STREAM interval join itself under the driver's value
    hash (the batch twin events_click_purchase_interval shares the
    operator but not the state machinery): both sides watermarked, the
    join condition bounds event time in both directions (bounded state),
    drained with availableNow in append mode — inner stream-stream
    joins emit eagerly, so the drained sink equals the batch join."""
    import uuid

    from ..streaming.events import click_purchase_interval_join, run_to_memory

    stream = _staged_stream(spark, sf_dir)
    name = "stream_ivj_" + uuid.uuid4().hex[:8]
    run_to_memory(
        click_purchase_interval_join(stream, horizon="30 minutes"),
        name,
        output_mode="append",
    )
    return spark.table(name).orderBy("click_id", "purchase_id")


# --------------------------------------------------------------------------
# Ordered funnel + cohort retention — the two canonical event-analytics
# shapes (A5/W3/J6 composition). Funnel steps must happen IN ORDER per
# user (each stage keyed on the previous stage's first-completion
# time); retention buckets activity by whole weeks since the user's
# first event. Both are chains of per-user aggregates + self-joins on
# the user key — one shuffle key throughout, no windows over the whole
# table.
# --------------------------------------------------------------------------


@register(
    "events_funnel_conversion",
    tags=["A5", "J6", "T2"],
    oracle="""
WITH s AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts >= s.t0 GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t1 GROUP BY e.user_id)
SELECT * FROM (
  SELECT '1_signup' AS step, count(*) AS n_users FROM s
  UNION ALL SELECT '2_click_after_signup', count(*) FROM c
  UNION ALL SELECT '3_purchase_after_click', count(*) FROM p)
ORDER BY step
""",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_after(event_type: str, prev: DataFrame | None, prev_t: str, out_t: str):
        e = ev.filter(F.col("event_type") == event_type)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") >= F.col(prev_t))
        return e.groupBy("user_id").agg(F.min("ts").alias(out_t))

    s = first_after("signup", None, "", "t0")
    c = first_after("click", s, "t0", "t1")
    p = first_after("purchase", c, "t1", "t2")
    rows = [
        s.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("1_signup").alias("step"), "n_users"
        ),
        c.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("2_click_after_signup").alias("step"), "n_users"
        ),
        p.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("3_purchase_after_click").alias("step"), "n_users"
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("step")


@register(
    "events_cohort_retention",
    tags=["A5", "W3", "T2"],
    oracle="""
WITH first_seen AS (
  SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id),
activity AS (
  SELECT e.user_id,
         CAST(floor(epoch_us(e.ts) / 1000000 / 604800) AS BIGINT)
           - CAST(floor(epoch_us(f.t0) / 1000000 / 604800) AS BIGINT) AS week_n,
         CAST(floor(epoch_us(f.t0) / 1000000 / 604800) AS BIGINT) AS cohort_week
  FROM events e JOIN first_seen f ON f.user_id = e.user_id)
SELECT cohort_week, week_n,
       count(DISTINCT user_id) AS n_active
FROM activity
WHERE week_n <= 8
GROUP BY cohort_week, week_n
ORDER BY cohort_week, week_n
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week,
    counted distinct in each subsequent week. ALL week math — the
    cohort key included — is exact integer epoch-week numbers
    (floor(epoch_sec / 604800)): Spark's window() and DuckDB's
    time_bucket anchor weekly buckets to different origins (epoch
    Thursday vs Monday), so a timestamp-typed cohort key can never
    hash-match across engines."""
    from ..functions.time import micros

    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    week = lambda c: F.floor(micros(c) / 1000000 / 604800).cast("long")  # noqa: E731
    act = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            (week("ts") - week("t0")).alias("week_n"),
            week("t0").alias("cohort_week"),
        )
        .filter(F.col("week_n") <= 8)
    )
    return (
        act.groupBy("cohort_week", "week_n")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_n")
    )


# --------------------------------------------------------------------------
# Mergeable distinct-count sketches (A5 at-scale surface): Datasketches
# HLL via hll_sketch_agg / hll_union_agg — unlike approx_count_distinct
# the SKETCH itself is a storable, re-aggregatable binary column, so
# per-(type, day) sketches roll up to per-type totals without touching
# raw events again: the pre-aggregated-cube pattern for 100 TB distinct
# counting. Same bounds-check contract as agg_approx_distinct: Spark
# emits the exact count plus a boolean asserting the merged-sketch
# estimate landed within ±5% (lgConfigK=12 → ~1.6% typical error); the
# oracle emits the exact count and literal TRUE.
# --------------------------------------------------------------------------


@register(
    "agg_hll_sketch_union",
    tags=["A5", "T2"],
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       count(DISTINCT time_bucket(INTERVAL '1 day', ts)) AS n_days,
       TRUE AS approx_within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.window("ts", "1 day").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            "exact_users",
            "n_days",
            (
                F.abs(
                    F.col("est").cast("double") / F.col("exact_users").cast("double")
                    - F.lit(1.0)
                )
                <= F.lit(0.05)
            ).alias("approx_within_5pct"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Sketch-guided EXACT distributed quantiles (operators/quantile.py):
# mergeable per-partition (value, gap) summaries bracket each target
# rank, then one band-limited, map-side-combinable aggregate selects
# the exact order statistic. DuckDB quantile_disc semantics (rank =
# max(1, ceil(q*n))), so the result is an element of the input and the
# hash oracle is exact at EVERY scale — no approximation anywhere.
# Scale: pass 1 shuffles only sketch rows; pass 2 shuffles one row per
# DISTINCT band value (duplicates collapse map-side — skew-proof).
# --------------------------------------------------------------------------

_QUANTILES = [0.25, 0.5, 0.75, 0.9, 0.99]


@register(
    "events_exact_quantiles",
    tags=["A1", "A5", "U3"],
    oracle="""
SELECT event_type,
       CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q,
       unnest(quantile_disc(value, [0.25, 0.5, 0.75, 0.9, 0.99])) AS qv
FROM events GROUP BY event_type ORDER BY event_type, q
""",
)
def events_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantile import exact_quantiles

    ev = load_table(spark, sf_dir, "events")
    return exact_quantiles(
        ev, "value", _QUANTILES, group_cols=["event_type"], capacity=1024
    ).orderBy("event_type", "q")


# --------------------------------------------------------------------------
# Time-series gap-fill + LOCF resample (the time_bucket_gapfill /
# last-observation-carried-forward analog every time-series store
# ships): per user, an hourly grid spanning [first, last] event hour;
# empty slots inherit the previous slot's value. Fully exact — the slot
# value is the LAST event in the hour under the total (ts, event_id)
# order (no division anywhere); 2-decimal values ride as integer cents.
# The ORACLE materializes the grid and runs the literal LOCF window
# (IGNORE NULLS last_value over generate_series); the ENGINE never
# builds the grid at all — it uses the algebraic identity
#   Σ_slots locf(slot) = Σ_observations vᵢ · (hours until next obs)
# so per-user work is O(#observations), not O(time-span). At sf1 the
# grid formulation materialized 10.5M join+window rows for a 1M-event
# table (measured 25.4 s); the run-length form is two keyed aggregates
# (measured ~3 s). At 100 TB the grid blowup scales with span×users
# and would dominate; the algebra is the right plan.
# --------------------------------------------------------------------------


@register(
    "events_gapfill_locf",
    tags=["W3", "T2", "P14"],
    oracle="""
WITH ranked AS (
  SELECT user_id, date_trunc('hour', ts) AS h, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
s AS (SELECT user_id, h, value AS v FROM ranked WHERE rn = 1),
b AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM s GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM b),
f AS (
  SELECT g.user_id, g.h, s.v,
         last_value(s.v IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
  FROM grid g LEFT JOIN s ON s.user_id = g.user_id AND s.h = g.h)
SELECT user_id,
       count(*) AS n_slots,
       count(*) FILTER (WHERE v IS NULL) AS n_gaps,
       CAST(round(sum(CAST(locf AS DECIMAL(27,2))), 2) AS DOUBLE) AS locf_total
FROM f GROUP BY user_id ORDER BY user_id
""",
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = F.date_trunc("hour", F.col("ts"))
    sparse = (
        ev.select("user_id", h.alias("h"), "value", "ts", "event_id")
        .groupBy("user_id", "h")
        .agg(F.max_by("value", F.struct("ts", "event_id")).alias("v"))
    )
    per_user = sparse.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("h", "v"))).alias("arr")
    )
    arr = F.col("arr")
    n_obs = F.size(arr)

    def hours_between(a, b):  # calendar hour diff — tz/DST-independent
        return F.timestamp_diff("HOUR", a, b).cast("long")

    n_slots = hours_between(arr[0]["h"], F.element_at(arr, -1)["h"]) + 1
    # run-length LOCF: observation i covers [h_i, h_{i+1}) → cnt_i hours
    runs = F.transform(
        F.sequence(F.lit(1), n_obs),
        lambda i: F.round(F.element_at(arr, i)["v"] * 100).cast("long")
        * F.when(
            i < n_obs,
            hours_between(
                F.element_at(arr, i)["h"], F.element_at(arr, i + 1)["h"]
            ),
        ).otherwise(F.lit(1)),
    )
    total_cents = F.aggregate(runs, F.lit(0).cast("long"), lambda a, x: a + x)
    return per_user.select(
        "user_id",
        n_slots.cast("bigint").alias("n_slots"),
        (n_slots - n_obs).cast("bigint").alias("n_gaps"),
        (total_cents / F.lit(100.0)).alias("locf_total"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# TIME-valued RANGE frame (the W3 frame kind the numeric range-frame
# entry doesn't exercise): trailing 24-hour per-user count + money sum
# at every event. The frame key is epoch MICROSECONDS as BIGINT
# (functions/time.micros ↔ DuckDB epoch_us) so both engines bound the
# frame on the identical integer key — no truncation-granularity or
# interval-semantics drift. Ties (equal keys) are frame-inclusive by
# RANGE semantics, so the result is deterministic without a tiebreak.
# Scale: one hash(user) exchange + one in-partition sort; the running
# frame is O(1) amortized per row (sliding aggregate state).
# --------------------------------------------------------------------------


@register(
    "window_time_range_frame",
    tags=["W3", "T2"],
    oracle="""
SELECT event_id,
       count(*) OVER w AS n_24h,
       CAST(round(sum(CAST(value AS DECIMAL(27,2))) OVER w, 2) AS DOUBLE) AS sum_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
ORDER BY event_id
""",
)
def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.money import money

    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(micros("ts"))
        .rangeBetween(-86_400_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        F.round(F.sum(money("value")).over(w), 2).cast("double").alias("sum_24h"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# INTERPOLATED percentiles (A5 depth — quantile_cont semantics; the
# exact-quantile entry is quantile_disc): both engines compute
# a + (b−a)·frac at rank (n−1)·q. The interpolation is float math, so
# per the float-parity policy the outputs are cast to FLOAT (f32) —
# last-ulp f64 differences between engines cannot flip the hash.
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# Robust outlier detection (A1/A5 depth — the MAD rule every data-
# curation pipeline runs before training-set assembly): per event type,
# flag |v − median| > 3·MAD where MAD = median(|v − median|). EXACT
# across engines by construction: values become integer cents
# (round(value·100) — the doubles are 2-decimal money, so the rounded
# product is the true integer), interpolated medians of integers are
# half-integers (exact in f64), absolute deviations are half-integers,
# the MAD is a quarter-integer (exact), and 3·MAD plus the strict
# comparison are exact f64 ops — so the flag, the counts and the
# outlier cent-sum are integer-deterministic on both engines.
# --------------------------------------------------------------------------


@register(
    "events_mad_outliers",
    tags=["A1", "A5"],
    oracle="""
WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
med AS (SELECT event_type, median(cents) AS med FROM c GROUP BY event_type),
dev AS (SELECT c.event_type, c.cents, abs(c.cents - m.med) AS adev
        FROM c JOIN med m ON c.event_type = m.event_type),
mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type)
SELECT d.event_type,
       count(*) AS n,
       CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN d.cents ELSE 0 END) AS BIGINT)
         AS outlier_cents
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type ORDER BY d.event_type
""",
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    med = ev.groupBy("event_type").agg(F.median("cents").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    is_out = F.col("adev") > 3 * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.sum(F.when(is_out, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("outlier_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "events_quantile_cont",
    tags=["A5"],
    oracle="""
SELECT event_type,
       CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q,
       CAST(unnest(quantile_cont(value, [0.25, 0.5, 0.75, 0.9])) AS FLOAT) AS qv
FROM events GROUP BY event_type ORDER BY event_type, q
""",
)
def events_quantile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    qs = [0.25, 0.5, 0.75, 0.9]
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile("value", F.array(*[F.lit(q) for q in qs])).alias("qv")
    )
    pairs = F.explode(
        F.arrays_zip(
            F.array(*[F.lit(q).cast("double") for q in qs]).alias("q"),
            F.transform(F.col("qv"), lambda x: x.cast("float")).alias("qv"),
        )
    )
    return (
        agg.select("event_type", pairs.alias("p"))
        .select("event_type", F.col("p.q").alias("q"), F.col("p.qv").alias("qv"))
        .orderBy("event_type", "q")
    )


# --------------------------------------------------------------------------
# Sliding-window distinct counting (r14, W3 depth): trailing-7-day
# active users per day. COUNT(DISTINCT) over a RANGE frame is not a
# native Spark window aggregate — the scalable formulation explodes
# each event into the <=7 window-days it contributes to (bounded
# fan-out, a column expression) and runs a plain two-phase distinct
# aggregate per window-day; no global sort, no per-day self-join. The
# oracle computes the same windows with a days x events range join.
# --------------------------------------------------------------------------


@register(
    "window_sliding_distinct_users",
    tags=["W3", "A5"],
    oracle="""
WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
days AS (SELECT DISTINCT d FROM ev)
SELECT dy.d AS day,
       count(DISTINCT e.user_id) AS n_active_7d,
       count(*) AS n_events_7d
FROM days dy JOIN ev e ON e.d BETWEEN dy.d - INTERVAL 6 DAY AND dy.d
GROUP BY dy.d ORDER BY day
""",
)
def window_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    days = ev.select(F.col("d").alias("day")).distinct()
    # Aggregate BEFORE the 7x fan-out (guide §2.3): the distinct-user
    # census only needs the distinct (day, user) pairs and the event
    # count only needs per-day totals, so both shrink to their
    # day-grained form first — the windows then explode |daily actives|
    # + |days| rows instead of 7x the raw event stream. countDistinct
    # over the exploded distinct pairs is the same set per window-day.
    du = ev.dropDuplicates(["d", "user_id"])
    active = (
        du.select(
            F.explode(F.expr("sequence(d, date_add(d, 6))")).alias("day"),
            "user_id",
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("n_active_7d"))
    )
    daily = ev.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    volume = (
        daily.select(
            F.explode(F.expr("sequence(d, date_add(d, 6))")).alias("day"), "c"
        )
        .groupBy("day")
        .agg(F.sum("c").alias("n_events_7d"))
    )
    return (
        active.join(volume, "day")
        # only window-days that exist as event days (the oracle's days
        # CTE); broadcastable day list, left-semi keeps the plan narrow
        .join(days, "day", "left_semi")
        .select("day", "n_active_7d", "n_events_7d")
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Event-volume concentration (r14 continuation, A5/W4): the Gini
# coefficient of per-user event counts — the "is my traffic a few
# whales or a long tail" census, the same statistic data-mixture
# audits run over per-source token counts. With ascending counts
# c₁≤…≤c_n, Gini = (2·Σ i·cᵢ − (n+1)·Σc) / (n·Σc): every term is an
# exact integer once the global rank i is known, and the ascending
# order makes the numerator non-negative, so one integer DIV
# quantization is bit-identical across engines (negative DIV
# floor-vs-trunc never arises). Scale: the global rank comes from
# operators/windows.scalable_cumsum over ones — range repartition +
# per-partition local windows + a one-row-per-partition offset
# broadcast — NEVER a single-partition global window; the oracle uses
# DuckDB's plain row_number() to cross-check the two-phase rewrite.
# --------------------------------------------------------------------------


@register(
    "events_user_gini",
    tags=["A5", "W4"],
    oracle="""
WITH pc AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
rk AS (SELECT cnt,
              row_number() OVER (ORDER BY cnt ASC, user_id ASC) AS i
       FROM pc),
s AS (SELECT count(*) AS n, sum(cnt) AS tot, sum(i * cnt) AS s1 FROM rk)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(tot AS BIGINT) AS total_events,
       CAST(CASE WHEN n = 0 OR tot = 0 THEN NULL
            ELSE ((2 * s1 - (n + 1) * tot) * 1000000) // (n * tot)
            END AS BIGINT) AS gini_micro
FROM s
""",
)
def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import scalable_cumsum

    pc = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("__one", F.lit(1).cast("long"))
    )
    ranked = scalable_cumsum(pc, ["cnt", "user_id"], "__one", out_col="i")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("cnt").cast("long").alias("total_events"),
        F.expr(
            "CASE WHEN count(*) = 0 OR sum(cnt) = 0 THEN NULL"
            " ELSE ((2 * sum(i * cnt) - (count(*) + 1) * sum(cnt)) * 1000000)"
            " DIV (count(*) * sum(cnt)) END"
        )
        .cast("long")
        .alias("gini_micro"),
    )


# --------------------------------------------------------------------------
# Session path mining (r14 continuation, T2/W2/W4): the top-20 most
# frequent event-type SEQUENCES across sessions — the "what do users
# actually do" census funnels are built from. Paths truncate at the
# first 8 events per session (deterministic: the (ts, event_id)
# order), assemble with the order-preserving array pattern
# (sort-by-rank structs → transform — the W2 scheme, never a
# collect_list ordering assumption), and the top-20 is a distributed
# TakeOrdered with (count DESC, path) tie-break. All-integer/string
# output — no floats anywhere. One user-partitioned window pass +
# two map-side-combinable groupBys; the oracle replays the session
# assignment with the same exact-micros lag/gap CTE as
# sessionize_bounds and aggregates with string_agg ORDER BY.
# --------------------------------------------------------------------------

_PATH_MAX_EVENTS = 8
_PATH_TOP_K = 20


@register(
    "events_session_paths",
    tags=["T2", "W2", "W4"],
    oracle=f"""
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                >= {_SESSION_GAP_SEC}::BIGINT * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM tagged),
ranked AS (
  SELECT user_id, session_seq, event_type,
         row_number() OVER (PARTITION BY user_id, session_seq
                            ORDER BY ts, event_id) AS rn
  FROM sess),
paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {_PATH_MAX_EVENTS}
  GROUP BY user_id, session_seq),
counted AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY path)
SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
       CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS BIGINT) AS rank
FROM counted
ORDER BY n_sessions DESC, path
LIMIT {_PATH_TOP_K}
""",
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    s = sessionize(
        ev, key="user_id", ts="ts", gap_seconds=_SESSION_GAP_SEC,
        order_tiebreak="event_id",
    )
    rn_w = W.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    ranked = (
        s.withColumn("rn", F.row_number().over(rn_w))
        .filter(F.col("rn") <= _PATH_MAX_EVENTS)
        .select("user_id", "session_seq", "rn", "event_type")
    )
    paths = ranked.groupBy("user_id", "session_seq").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    top_w = W.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        counted.orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(_PATH_TOP_K)
        .select(
            "path",
            F.col("n_sessions").cast("long").alias("n_sessions"),
            F.row_number().over(top_w).cast("long").alias("rank"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
    )
