"""Event-stream inventory (SURVEY §2.9 + extension surface): incremental
batch semantics, tumbling windows, sessionization on the `events` table.

The fixture's `ts` physical type has varied across regenerations
(TIMESTAMP(NANOS) read as epoch-nano LONG, TIMESTAMP[us] read as
TIMESTAMP_NTZ) — all time math therefore goes through `queries.us_col`,
which probes the loaded dtype and yields epoch-µs BIGINT either way
(exactly `epoch_us(ts)` in the oracle).  Integer bucket arithmetic is
TZ-independent by construction.

The true Structured-Streaming forms (watermark + window / session_window)
live in streaming/windows.py and are exercised by tests — batch and stream
share these aggregation definitions."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from overturemaps_duckdb_spark.queries import query, t, table_key, us_col

#: 5-minute tumbling window, in µs
WINDOW_US = 300_000_000
#: 30-minute session gap, in µs
SESSION_GAP_US = 1_800_000_000


# one cents() definition repo-wide (r8 review fix: a duplicate here could
# silently fork the exact-cents contract between the relational and
# events/streaming families if the rounding convention ever changed)
from overturemaps_duckdb_spark.queries.relational import cents  # noqa: E402,F401


@query(
    "e1_tumbling_window",
    oracle=f"""
    SELECT epoch_us(ts) - ((epoch_us(ts) % {WINDOW_US} + {WINDOW_US}) % {WINDOW_US})
               AS window_start_us,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, event_type
    """,
)
def e1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-min window aggregation per event type — the batch twin of
    `groupBy(window('ts','5 minutes'), 'event_type')` (streaming/windows.py).
    Integer epoch-bucket keys: deterministic, TZ-free, and a cheap
    high-cardinality shuffle key at scale."""
    ev = t(spark, sf_dir, "events")
    ev = ev.withColumn("us", us_col(ev))
    # FLOOR-aligned window start (us - pmod), not truncating DIV: the
    # streaming twin's F.window() floor-aligns, so a pre-1970 event would
    # bucket differently here than in i1 — all three forms (e1, i1's
    # F.window, the shared oracle) now state floor alignment; identical
    # for every non-negative timestamp (r8 review fix)
    window_start = F.expr(f"us - pmod(us, {WINDOW_US})")
    return (
        ev.groupBy(window_start.alias("window_start_us"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents("value")).alias("value_cents"),
        )
    )


@query(
    "e2_sessionize",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS prev_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, event_id, us,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(us) AS session_start_us, max(us) AS session_end_us
    FROM sessions GROUP BY user_id, session_id
    """,
)
def e2_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via lag + cumulative-sum — the
    batch twin of `session_window(ts, '30 minutes')`.  Partitioned by
    user_id: the window state never exceeds one user's history per task."""
    ev = t(spark, sf_dir, "events")
    ev = ev.withColumn("us", us_col(ev))
    w_order = Window.partitionBy("user_id").orderBy("us", "event_id")
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn("prev_us", F.lag("us").over(w_order)).withColumn(
        "is_new",
        F.when(
            F.col("prev_us").isNull() | (F.col("us") - F.col("prev_us") > SESSION_GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn("session_id", F.sum("is_new").over(w_cum))
    return sessions.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id")).agg(
        F.count("*").alias("n_events"),
        F.min("us").alias("session_start_us"),
        F.max("us").alias("session_end_us"),
    )


@query(
    "sp2_session_safe_split",
    oracle=f"""
    WITH cut AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS c FROM events
    ),
    ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS prev_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, event_id, us,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM flagged
    ),
    bounded AS (
        SELECT user_id, event_id,
               min(us) OVER (PARTITION BY user_id, sid) AS s0,
               max(us) OVER (PARTITION BY user_id, sid) AS s1
        FROM sessions
    )
    SELECT event_id, user_id,
           CASE WHEN s1 <= cut.c THEN 'train'
                WHEN s0 > cut.c THEN 'eval'
                ELSE 'quarantine' END AS split
    FROM bounded CROSS JOIN cut
    """,
)
def sp2_session_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/eval split at the events time-range midpoint with
    whole-SESSION assignment (operators/sampling.session_safe_split; e2's
    sessionize shape underneath): a session straddling the cutoff is
    quarantined, never split — the behavioral twin of sp1's near-dup
    leakage contract.  The midpoint cutoff is a 1-row aggregate collected
    to a literal (bounded, the count-probe convention)."""
    from overturemaps_duckdb_spark.operators.sampling import session_safe_split

    ev = t(spark, sf_dir, "events")
    ev = ev.withColumn("us", us_col(ev))
    lo, hi = ev.agg(F.min("us"), F.max("us")).collect()[0]
    return session_safe_split(
        ev,
        "user_id",
        "us",
        "event_id",
        cutoff_us=(lo + hi) // 2,
        gap_us=SESSION_GAP_US,
    )


@query(
    "i1_stream_tumbling_window",
    oracle=f"""
    SELECT epoch_us(ts) - ((epoch_us(ts) % {WINDOW_US} + {WINDOW_US}) % {WINDOW_US})
               AS window_start_us,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, event_type
    """,
)
def i1_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming, oracle-checked: readStream file source →
    watermark → tumbling window agg → availableNow → memory sink.  The
    stream/batch equivalence contract (same oracle as e1) is the whole
    point — the streaming plan must agree with plain SQL row-for-row."""
    from overturemaps_duckdb_spark.streaming.windows import (
        events_stream,
        run_to_batch,
        tumbling_counts,
    )

    stream = tumbling_counts(events_stream(spark, sf_dir))
    return run_to_batch(stream, "i1_tumbling", output_mode="complete")


@query(
    "i2_stream_session_window",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS prev_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us >= {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, us,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    )
    SELECT user_id, min(us) AS session_start_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def i2_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`session_window` streaming sessionization (30-min gap), availableNow +
    append mode with a watermark-flush sentinel batch (session windows only
    support append; the sentinel pushes the watermark past every real
    session's end so all of them emit).  Note the `>=` boundary:
    session_window's window end is exclusive, so a gap of exactly 30min
    starts a new session — the lag-based oracle states the same boundary."""
    from overturemaps_duckdb_spark.streaming.windows import session_counts_to_batch

    return session_counts_to_batch(spark, sf_dir)


@query(
    "i3_stateful_running_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS events_seen,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id
    """,
)
def i3_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (events, cents) state, update output mode, availableNow.  Single-batch
    here so the final state equals the batch aggregate (the oracle); the
    multi-batch state-carry path is pytest-verified
    (tests/test_streaming_stateful.py)."""
    from overturemaps_duckdb_spark.streaming.stateful import user_running_totals
    from overturemaps_duckdb_spark.streaming.windows import (
        events_stream,
        run_to_batch,
    )

    stream = events_stream(spark, sf_dir, max_files_per_trigger=None)
    out = run_to_batch(
        user_running_totals(stream), "i3_totals", output_mode="update"
    )
    return out.select("user_id", "events_seen", "value_cents")


@query(
    "e4_grouped_quantiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def e4_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type EXACT quantiles (p50/p90, `quantile_cont` linear
    interpolation) via the distributed-selection operator
    (operators/quantiles.grouped_quantile_cont) — VERDICT r05 #2.

    The pre-r6 form shipped each group to one `applyInPandas` task
    (measured 15× slope for 10× data at 10M events — hot groups sort on
    a single task).  The selection path locates target ranks with
    bucket-count statistics and only sorts distinct values of the ≤ 4
    bucket slivers per group that contain a target rank: exact same
    values, no full-data shuffle, ≤ linear at any group size.  The
    grouped-map pandas form survives as
    `operators.quantiles.grouped_quantile_pandas` (equality pinned in
    tests/test_quantiles.py).

    The adaptive sizing probe memoizes per (session, events table file)
    — the FTS-index pattern (VERDICT r06 #5): the first call in a session
    pays the ~one fixed probe job, repeat calls over the same fixture
    route directly (a B=1 decision re-runs as the no-sizing single
    aggregate), and a rewritten events file probes again."""
    from overturemaps_duckdb_spark.operators.quantiles import (
        grouped_quantile_cont,
    )

    ev = t(spark, sf_dir, "events").select("event_type", "value")
    out = grouped_quantile_cont(
        ev,
        ["event_type"],
        "value",
        [0.5, 0.9],
        out_names=["p50", "p90"],
        n_name="n",
        sizing_key=("e4", *table_key(sf_dir, "events")),
    )
    return out.select(
        "event_type",
        F.round("p50", 6).alias("p50"),
        F.round("p90", 6).alias("p90"),
        "n",
    )


@query(
    "i4_stream_stream_join",
    oracle="""
    SELECT a.event_id AS a_id, b.event_id AS b_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000
    """,
)
def i4_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join (follow-up events within 5 min per
    user), both sides watermarked, availableNow append — inner interval
    joins emit on arrival, so the bounded replay equals the batch SQL."""
    from overturemaps_duckdb_spark.streaming.windows import (
        followup_events_join,
        run_to_batch,
    )

    joined = followup_events_join(spark, sf_dir)
    return run_to_batch(joined, "i4_followups", output_mode="append")


@query(
    "i6_stream_dedup_replay",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type
    """,
)
def i6_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the events file replayed as TWO
    identical micro-batches (at-least-once delivery), `dropDuplicates` on
    the key emitting each event once.  The per-type count/cents aggregate
    equals the single-copy batch table — without the dedup every count
    would be doubled.  The training-data twin is ingest dedup at the door:
    a redelivering upstream must not double-weight documents."""
    from overturemaps_duckdb_spark.streaming.windows import (
        replayed_dedup_stream,
        run_to_batch,
    )

    # deterministic per-(app, fixture) root via staging_root (r10: the
    # r8-era inline form predated the helper and carried the two ADVICE
    # r09 defects — same-basename fixture collision and one orphan dir
    # per dead process).  Replay needs real copies: distinct mtimes
    # drive the batch order, and a symlink's utime follows the target.
    from overturemaps_duckdb_spark.operators._util import staging_root

    root = staging_root(spark, sf_dir, "i6")
    deduped = replayed_dedup_stream(spark, sf_dir, root=root, n_copies=2)
    out = run_to_batch(deduped, "i6_dedup", output_mode="append")
    return out.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents("value")).alias("value_cents"),
    )


@query(
    "e3_lag_delta",
    oracle="""
    SELECT user_id, event_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY epoch_us(ts), event_id)
               AS gap_us
    FROM events
    """,
)
def e3_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead inter-event gaps per user (window navigation functions)."""
    ev = t(spark, sf_dir, "events")
    ev = ev.withColumn("us", us_col(ev))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    return ev.select(
        "user_id", "event_id", (F.col("us") - F.lag("us").over(w)).alias("gap_us")
    )


@query(
    "i5_stream_foreachbatch_ingest",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type
    """,
)
def i5_stream_foreachbatch_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3 via a foreachBatch sink (streaming/windows.foreach_batch_ingest):
    events staged as 3 micro-batches, each batch appended to a parquet sink
    PLUS one `_load_history` telemetry row (themes.js:300-347,391).  The
    reassembled sink must equal the batch table exactly — proven by the
    per-type count/cents aggregate against the plain-SQL oracle; the log is
    asserted to carry one row per micro-batch with matching row counts."""
    from overturemaps_duckdb_spark.streaming.windows import foreach_batch_ingest

    # deterministic per-(app, fixture) root via staging_root (r10: the
    # r8-era inline form predated the helper — see i6's note)
    from overturemaps_duckdb_spark.operators._util import staging_root

    root = staging_root(spark, sf_dir, "i5")
    sink, log_root = foreach_batch_ingest(spark, sf_dir, root=root, n_splits=3)
    log = spark.read.parquet(f"{log_root}/_load_history")
    total = t(spark, sf_dir, "events").count()
    # explicit raises, not asserts: the telemetry contract must hold under
    # python -O too (r8 review fix)
    n_log = log.count()
    if n_log != 3:
        raise RuntimeError(f"i5: expected 3 telemetry rows, got {n_log}")
    logged = log.agg(F.sum("row_count")).collect()[0][0]
    if logged != total:
        raise RuntimeError(f"i5: telemetry rows {logged} != ingested {total}")
    sunk = spark.read.parquet(sink)
    return sunk.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents("value")).alias("value_cents"),
    )


#: the e5 funnel definition: strictly-ordered first-touch steps
FUNNEL_STEPS = ("view", "click", "purchase")

_E5_ORACLE = """
WITH s1 AS (
    SELECT user_id, MIN(epoch_us(ts)) AS t FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
    FROM events e JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
    GROUP BY e.user_id
)
SELECT CAST(1 AS INTEGER) AS step, 'view' AS event_type,
       CAST(count(*) AS BIGINT) AS users FROM s1
UNION ALL
SELECT CAST(2 AS INTEGER), 'click', CAST(count(*) AS BIGINT) FROM s2
UNION ALL
SELECT CAST(3 AS INTEGER), 'purchase', CAST(count(*) AS BIGINT) FROM s3
"""


def funnel_user_times(
    events: DataFrame, user_col: str, us: F.Column, type_col: str,
    steps: tuple[str, ...],
) -> list[DataFrame]:
    """Per-step per-user FIRST-COMPLETION times of a strictly-ordered
    funnel: frame k holds ``(user, _t)`` for every user whose earliest
    step-k event strictly follows their step-(k-1) completion time —
    the standard product-analytics funnel (first-touch attribution,
    strict event ordering; simultaneous events do NOT advance a step).

    Scale shape: one user-keyed groupBy per step over the scan FILTERED
    to that step's type (predicate pushed to parquet), then a user-key
    equi-join against the previous (distinct-users-sized) step frame —
    every shuffle is on the same user key, so AQE/exchange-reuse keeps
    the chain co-partitioned; no windows over the full event stream, no
    driver state.  Conversion counts are k one-row aggregates."""
    typed = events.select(
        F.col(user_col).alias("_u"), us.alias("_us"),
        F.col(type_col).alias("_ty"),
    )
    frames: list[DataFrame] = []
    prev: DataFrame | None = None
    for step in steps:
        cur = typed.where(F.col("_ty") == step)
        if prev is not None:
            cur = cur.join(
                prev.select(F.col("_u").alias("_pu"), F.col("_t").alias("_pt")),
                (F.col("_u") == F.col("_pu")) & (F.col("_us") > F.col("_pt")),
            )
        frames.append(cur.groupBy("_u").agg(F.min("_us").alias("_t")))
        prev = frames[-1]
    return frames


@query("e5_funnel_steps", oracle=_E5_ORACLE)
def e5_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — ordered-funnel conversion over the event stream: how many
    users completed view → click → purchase IN THAT ORDER (each step's
    first occurrence strictly after the previous step's completion).
    The product-analytics staple the reference-class engines ship as a
    first-class op; composes here from k user-keyed aggregates + joins
    (funnel_user_times), never a full-stream window sort.  Epoch-µs
    integer comparisons via us_col — TZ-free and bit-stable against the
    oracle's epoch_us(ts)."""
    ev = t(spark, sf_dir, "events")
    frames = funnel_user_times(
        ev, "user_id", us_col(ev), "event_type", FUNNEL_STEPS
    )
    out = None
    for i, (step, frame) in enumerate(zip(FUNNEL_STEPS, frames), start=1):
        row = frame.agg(
            F.lit(i).cast("int").alias("step"),
            F.lit(step).alias("event_type"),
            F.count(F.lit(1)).cast("bigint").alias("users"),
        )
        out = row if out is None else out.unionAll(row)
    return out


#: one day in µs — the retention bucket
DAY_US = 86_400_000_000


def _act_days(ev: DataFrame) -> DataFrame:
    """Shared e6/e7 activity frame: DISTINCT (user_id, day) with epoch-µs
    day buckets.  Day = FLOOR division (ADVICE r12): DuckDB's ``//``
    floors while Spark's ``DIV`` truncates toward zero, so a bare DIV
    diverges for pre-1970 (negative-epoch) timestamps.  The pure-integer
    floor form ``(us - ((us % d + d) % d)) DIV d`` matches ``//`` for
    every input (and i1's window-start arithmetic) without the 2^53
    exactness ceiling a float ``floor(us / d)`` would reintroduce.

    ``.persist()``: e7 references this frame from THREE plan branches
    (dau, the window expansion, the observed-day spine) and e6 from two
    (activity + cohort min), and exchange reuse does not fire across
    them (r13 executed-plan read: ReusedExchange=0, the events scan +
    distinct ran once per branch).  The cache bounds that to one
    materialization per execution; the cached artifact is the distinct
    (user, day) set — the already-reduced frame, never raw events.
    Session-lived and deduped by plan, like the theme caches; the handle
    is tracked in a bounded per-session LRU (operators/_util.lru_persist,
    r14) so a session touching many distinct event fixtures releases
    superseded activity frames instead of pinning one per fixture."""
    from overturemaps_duckdb_spark.operators._util import lru_persist

    return lru_persist(
        ev.select(F.col("user_id"), us_col(ev).alias("_us"))
        .select(
            "user_id",
            F.expr(
                f"(_us - ((_us % {DAY_US} + {DAY_US}) % {DAY_US})) "
                f"DIV {DAY_US}"
            ).alias("day"),
        )
        .distinct(),
        "act_days",
    )

_E6_ORACLE = f"""
WITH act AS (
    SELECT DISTINCT user_id,
           CAST(epoch_us(ts) // {DAY_US} AS BIGINT) AS day
    FROM events
),
cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id)
SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
       CAST(count(*) AS BIGINT) AS users
FROM act a JOIN cohort c ON a.user_id = c.user_id
GROUP BY 1, 2
"""


@query("e6_retention_cohorts", oracle=_E6_ORACLE)
def e6_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — retention-cohort table, the funnel's companion analytics
    staple: users bucketed by FIRST-ACTIVE day (cohort), counted at every
    later active-day offset — the (cohort_day, day_offset, users) matrix
    retention curves read off directly.

    Scale shape: one (user, day) distinct (the inherent retention
    shuffle — active-days pairs, never raw events: the type/value
    columns are pruned at the scan), a user-keyed min for the cohort,
    one user-key equi-join back, and a (cohort, offset)-keyed count with
    map-side combine.  `count(*)` not countDistinct: the act frame is
    already distinct per (user, day), so each row is one retained user —
    no second dedup pass.  Epoch-µs day buckets via the shared
    :func:`_act_days` integer FLOOR division (TZ-free; matches the
    oracle's `//` for every sign of timestamp)."""
    ev = t(spark, sf_dir, "events")
    act = _act_days(ev)
    cohort = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("users"))
    )


_E7_ORACLE = f"""
WITH act AS (
    SELECT DISTINCT user_id,
           CAST(epoch_us(ts) // {DAY_US} AS BIGINT) AS day
    FROM events
),
spine AS (SELECT DISTINCT day FROM act),
exp AS (
    SELECT user_id, day + CAST(i AS BIGINT) AS wday
    FROM act, range(0, 7) r(i)
),
wau AS (
    SELECT e.wday AS day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
    FROM exp e JOIN spine s ON e.wday = s.day
    GROUP BY 1
),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY day)
SELECT d.day, d.dau, w.wau FROM dau d JOIN wau w ON d.day = w.day
"""


@query("e7_rolling_active_users", oracle=_E7_ORACLE)
def e7_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — daily + trailing-7-day active users per day (DAU/WAU), the
    third events-analytics staple (with e5 funnels, e6 retention).

    Scale shape: rolling DISTINCT does not decompose, and the naive
    between-range join is a broadcast nested loop costing |activity|×
    |days| comparisons — instead each (user, day) activity row EXPANDS to
    the ≤7 window days it contributes to (``explode(sequence(...))`` —
    linear, rides the scan) and a semi join against the observed-day
    spine drops the phantom trailing days; then one exact
    countDistinct(user) per window day.  DAU is a plain count over the
    already-distinct (user, day) pairs — no second dedup.  All shuffles
    carry (user, day)-sized keys, never raw events.  Day buckets via the
    shared :func:`_act_days` floor division (oracle `//` parity on
    negative epochs too)."""
    ev = t(spark, sf_dir, "events")
    act = _act_days(ev)
    spine = act.select("day").distinct()
    exp = act.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(6))
        ).alias("wday"),
    )
    wau = (
        exp.join(
            spine.select(F.col("day").alias("_sd")),
            F.col("wday") == F.col("_sd"),
            "left_semi",
        )
        .groupBy(F.col("wday").alias("day"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau"))
    )
    dau = act.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    return dau.join(wau, "day").select("day", "dau", "wau")
