"""Distributed EXACT grouped quantiles (VERDICT r05 #2).

The naive grouped-quantile shape — shuffle every row of a group to one
task and sort there (``applyInPandas``, or SQL ``percentile``) — is a
scale-killer for hot groups: round-5 measured a 15× slope for 10× data at
10M events because each group's ~2M rows landed on a single task.  This
module implements exact ``quantile_cont`` semantics (linear interpolation
on DOUBLE, NULLs ignored — DuckDB ``quantile_cont``, pandas
``Series.quantile``) as a *distributed selection*:

1. **Stats pass** (1 column-pruned scan): per-group ``count(*)`` and
   non-null count, eagerly checkpointed (G rows); the adaptive
   bucket-count probe collects over that materialized frame — no second
   sizing scan.  Target ranks are pure column math on the non-null
   count: ``h = p·(nn−1)``, ``rank_lo = ⌊h⌋+1``, ``rank_hi = ⌈h⌉+1``,
   ``frac = h−⌊h⌋``.  When bucketing engages (B>1), the
   ``percentile_approx`` boundaries are one more column-pruned scan,
   also checkpointed.
2. **Bucket-count pass** (1 scan, B>1 only): each row is assigned the
   bucket ``|{b ∈ bounds : b < v}|`` (a codegen'd HOF fold over the
   tiny boundary array — no UDF, no shuffle of the data; the boundary
   frame rides in on an EXPLICIT broadcast join).  Bucket counts per
   group are a small-key aggregation with map-side partials; a window
   over the G×B count rows yields each bucket's global rank offset.
3. **Selection pass** (1 scan): only rows in buckets that CONTAIN a
   target rank survive a broadcast semi-join (≤ 2·|probs| buckets per
   group, ~nn/B rows each), collapse to (value, count) — duplicates
   never expand — and a within-bucket window over *distinct values*
   locates the exact rank.  Interpolate, pivot wide, done.

No full-data shuffle anywhere: every scan reads only the group+value
columns (column pruning), and everything that shuffles is either
per-group stats (G rows), per-bucket counts (G×B rows), or the selected
slivers.  At 100 TB the cost is 4 column-pruned scans — the price of
exactness; ``percentile_approx`` alone remains the cheap 1-scan
approximation when a rank error of ~1/accuracy is acceptable.

**B=1 fast path**: when the sizing probe shows every group fits
``target_bucket_rows``, the whole machinery above collapses to ONE hash
aggregation with Spark's exact ``percentile`` (identical quantile_cont
interpolation — value-pinned against DuckDB in tests/test_compat and
here).  Its partial buffers collapse duplicates to (value, count) maps,
so the single Exchange ships at most the per-group distinct-value
profile — bounded by the same ``target_bucket_rows`` routing that
selected the path.  Cost: the sizing scan + one agg scan (just the agg
when the caller forces ``n_buckets=1``); the pre-r6 shape of this path
(collapse → rank window → target join → pivot) spent ~3 extra stages of
fixed overhead per call for the same bounded shuffle.

Two join regimes, chosen by the group count probed in pass 1: while
``G × max(B, 2·|probs|)`` fits :data:`BROADCAST_GROUP_LIMIT` (the
few-hot-groups shape this operator was built for), every reduced-frame
join is explicitly broadcast — mandatory, because checkpointed frames
carry no catalyst stats (see the NB in the source).  Past the budget the
reduced frames are themselves large, so every join runs unhinted on the
group key (shuffle joins; the full-width bucket-assignment Exchange is
then the correct price, and a residual hot key is AQE skew-join
territory).  Values are identical in both regimes (pinned in tests).

Determinism note: ``percentile_approx`` results can depend on partial
merge order, and the bucket-count and selection passes MUST see the same
boundaries or ranks silently desynchronize.  The counts and boundary
frames are therefore checkpoint-materialized (G rows each — tiny):
every downstream read comes from the stored blocks, never a recompute.
When the session has a checkpoint directory configured
(``sc.setCheckpointDir``) the operator uses reliable ``checkpoint()``
— on a 1000-executor cluster a lost executor silently kills
``localCheckpoint`` blocks and fails the job; without one it falls back
to ``localCheckpoint`` (the single-JVM/dev form, where block loss
cannot happen).

Reference parity: the reference engine exposes quantiles only through its
DuckDB SQL front door (``quantile_cont`` — see SURVEY §2.5); this module
is the Spark-native scale path for the same semantics.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from overturemaps_duckdb_spark.operators._util import cache_get, cache_put
from overturemaps_duckdb_spark.operators._util import materialize as _materialize

__all__ = ["grouped_quantile_cont", "grouped_quantile_pandas"]

#: default rows-per-bucket target: below this a single within-group window
#: over distinct values is already well-sized, so the operator runs the
#: B=1 fast path (2 scans, no boundary machinery).
TARGET_BUCKET_ROWS = 250_000
#: adaptive bucket-count clamp — beyond ~1k buckets the boundary-array
#: HOF fold starts to cost more per row than the selection saves.
MAX_BUCKETS = 1024
#: broadcast budget for the reduced per-group frames, in ENTRIES
#: (G × max(B, 2·|probs|)).  The checkpointed stats/bounds/bucket-count
#: frames carry no catalyst stats, so the few-group regime (e4's shape:
#: a handful of hot groups) must broadcast them EXPLICITLY or the planner
#: shuffles the full data (see the NB below).  But those frames are
#: G-proportional — with millions of groups a forced broadcast would ship
#: G×B entries to every task (and through the driver).  Past this budget
#: (~2M entries ≈ tens of MB) every reduced-frame join runs UNHINTED on
#: the group key instead: one full-width Exchange for the bucket
#: assignment join — the correct many-group plan (per-group state is
#: small when G is large; the one hot key is AQE skew-join territory).
BROADCAST_GROUP_LIMIT = 2_000_000
#: session-registry slot (operators/_util) of the memoized adaptive
#: sizing decisions — small in-memory ints, so a wide bound
SIZING_SLOT = "quantile_sizing"


def _check_probs(probs: Sequence[float]) -> list[float]:
    out = [float(p) for p in probs]
    if not out:
        raise ValueError("probs must be non-empty")
    for p in out:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"prob out of [0,1]: {p}")
    if len(set(out)) != len(out):
        raise ValueError(f"duplicate probs: {probs}")
    return out


def _check_names(
    probs: list[float],
    out_names: Sequence[str] | None,
    group_cols: list[str],
    n_name: str,
) -> list[str]:
    """Shared output-name validation for both quantile forms: default
    names from the probs, length must match, no duplicates, and no
    collision with the group columns, ``n_name``, or the internal
    ``_gk`` struct key."""
    if out_names is None:
        out_names = [
            "q" + f"{p:g}".replace(".", "_").replace("-", "m") for p in probs
        ]
    out_names = list(out_names)
    if len(out_names) != len(probs):
        raise ValueError("out_names must match probs length")
    reserved = set(group_cols) | {n_name, "_gk"}
    if set(out_names) & reserved or len(set(out_names)) != len(out_names):
        raise ValueError(f"output name collision: {out_names}")
    return out_names


def _percentile_agg(
    src: DataFrame,
    group_cols: list[str],
    probs: list[float],
    out_names: list[str],
    n_name: str,
) -> DataFrame:
    """B=1 fast path: one exact-``percentile`` hash aggregation.

    Spark's ``percentile`` implements the same linear interpolation as
    DuckDB ``quantile_cont`` / pandas ``Series.quantile`` (``h =
    p·(nn−1)``; value-pinned in tests/test_quantiles.py and
    tests/test_compat.py), ignores NULLs, and returns NULL for all-NULL
    groups — exactly this module's contract.  Its partial buffers
    collapse duplicates to (value, count) maps, so the single group-key
    Exchange carries at most each group's distinct-value profile; the
    caller only routes here when every group fits
    ``target_bucket_rows``, which bounds that buffer.  ``n`` is
    ``count(*)`` INCLUDING NULL values, per the contract.
    """
    qs = F.percentile("_v", F.array(*[F.lit(p) for p in probs]))
    agg = src.groupBy(*group_cols).agg(
        qs.alias("_qs"), F.count(F.lit(1)).alias("_n_all")
    )
    return agg.select(
        *group_cols,
        *[F.col("_qs")[j].alias(name) for j, name in enumerate(out_names)],
        F.col("_n_all").cast("bigint").alias(n_name),
    )


def grouped_quantile_cont(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probs: Sequence[float],
    *,
    out_names: Sequence[str] | None = None,
    n_name: str = "n",
    n_buckets: int | None = None,
    target_bucket_rows: int = TARGET_BUCKET_ROWS,
    accuracy: int | None = None,
    sizing_key=None,
) -> DataFrame:
    """Exact per-group ``quantile_cont`` with linear interpolation.

    Returns one row per group: ``(*group_cols, *out_names, n_name)``
    where each quantile column is DOUBLE (NULL for all-NULL groups, like
    DuckDB) and ``n_name`` is ``count(*)`` including NULL values (NULLs
    are excluded from the quantile itself, matching ``quantile_cont``).

    ``n_buckets`` forces the bucket count (1 = the small-group fast
    path); by default it adapts to the largest group:
    ``clamp(ceil(max_nn / target_bucket_rows), 16, MAX_BUCKETS)``, or 1
    when every group fits ``target_bucket_rows``.  ``accuracy`` is the
    ``percentile_approx`` boundary sketch accuracy (boundaries only
    steer bucket SIZES — exactness never depends on them).

    ``sizing_key`` (None = no memo) memoizes the ADAPTIVE sizing decision
    in the session registry's :data:`SIZING_SLOT` (operators/_util;
    VERDICT r06 #5, the FTS-index pattern): the probe is a real job
    (~0.2 s fixed at sf0.1 — measured to be job overhead, not bytes, so
    it can only be skipped, not shrunk), and a caller issuing repeated
    quantile queries over the same stable table pays it once.  On a
    hit the stored bucket count is used exactly like a forced
    ``n_buckets`` (a hit of 1 runs the no-job single-aggregate path);
    on a miss the probe runs and the decision is stored.  Key identity
    == data identity is the CALLER's contract (the slot is shared: key
    on the caller's name plus something that changes when the table
    does, like ``queries.table_key``); a stale hit can only mis-route
    performance, never values (exactness is bucket-count-independent,
    pinned in tests).
    """
    probs = _check_probs(probs)
    group_cols = list(group_cols)
    out_names = _check_names(probs, out_names, group_cols, n_name)
    memo = sizing_key is not None and n_buckets is None
    if memo:
        n_buckets = cache_get(df.sparkSession, SIZING_SLOT, sizing_key)

    src = df.select(
        *group_cols, F.col(value_col).cast("double").alias("_v")
    )

    # ---- pass 1: per-group stats; bucket sizing rides the SAME job -----
    # On the adaptive path the checkpoint is LAZY: the max-nn probe's
    # collect is the first action over the stats frame, so the one stats
    # scan, the checkpoint write, and the sizing probe are a single job
    # (profiled: the separate eager-materialization job was ~20% of the
    # small-fixture runtime; counts are deterministic aggregates, so a
    # lazy checkpoint is race-safe here).  When the caller forces
    # ``n_buckets`` there is no probe to ride, and the final action reads
    # stats from TWO plan branches — eager materialization keeps those
    # branches off a concurrent first-compute of the same RDD.
    # NB: a localCheckpoint result is a LogicalRDD with NO catalyst stats
    # — the planner assumes it is huge and will never auto-broadcast it,
    # so every join against stats-derived frames below marks the small
    # side with an explicit broadcast() (profiled at 10M rows: the
    # missing hint turned the boundary join into a full-data shuffle).
    if n_buckets is not None and n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if n_buckets == 1:
        # caller vouches every group fits target_bucket_rows: no sizing
        # job at all — one exact-percentile hash aggregate (see module
        # doc, "B=1 fast path").
        return _percentile_agg(src, group_cols, probs, out_names, n_name)
    # Every internal join/groupBy below keys on ONE struct column ("_gk")
    # instead of the raw group columns: Spark's struct equality compares
    # fields null-safely (ordering semantics), so NULL-keyed groups
    # survive the stats/bounds/bucket/target joins exactly like the B=1
    # groupBy path.  Raw-column joins silently dropped them (`NULL = NULL`
    # is NULL) — the adaptive routing would then flip a group's answer
    # from a value to NULL as data grew past target_bucket_rows.
    keyed = src.select(F.struct(*group_cols).alias("_gk"), "_v")
    stats = _materialize(
        keyed.groupBy("_gk").agg(
            F.count(F.lit(1)).alias("_n_all"),
            F.count("_v").alias("_nn"),
        ),
        eager=n_buckets is not None,
    )
    if n_buckets is not None:
        B = n_buckets
        n_groups = stats.count()  # checkpoint read, no source rescan
    else:
        probe = stats.agg(
            F.max("_nn").alias("_m"), F.count(F.lit(1)).alias("_g")
        ).first()
        max_nn = probe[0] or 0
        n_groups = probe[1]
        B = (
            1
            if max_nn <= target_bucket_rows
            else min(MAX_BUCKETS, max(16, math.ceil(max_nn / target_bucket_rows)))
        )
        if memo:
            cache_put(df.sparkSession, SIZING_SLOT, sizing_key, B, max_entries=256)
        if B == 1:
            # B=1 fast path: the probe's lazy checkpoint already
            # materialized the stats blocks, but the percentile agg
            # needs neither them nor any join — drop straight to the
            # single-aggregation plan (module doc, "B=1 fast path").
            return _percentile_agg(src, group_cols, probs, out_names, n_name)
    # Few groups → force-broadcast the reduced frames (checkpoints have no
    # stats; without the hint the planner shuffles the data — see NB).
    # Many groups → the reduced frames are themselves big: leave every
    # join unhinted and let the planner/AQE pick shuffle joins on the
    # group key.
    if n_groups * max(B, 2 * len(probs)) <= BROADCAST_GROUP_LIMIT:
        mark = F.broadcast
    else:
        def mark(f: DataFrame) -> DataFrame:
            return f
    # Boundaries only steer bucket SIZES — exactness never depends on
    # them — so the sketch can be cheap: error ≈ nn/acc rows per
    # boundary, i.e. ~10% of the nn/B bucket target at 10·B.  The
    # default percentile_approx accuracy (10000) dominated the 10M-row
    # runtime for zero benefit.  Materialized ONCE (checkpoint): the
    # bucket-count and selection passes must agree on the
    # (merge-order-sensitive) percentile_approx boundaries.
    acc = accuracy or max(100, 10 * B)
    splits = [i / B for i in range(1, B)]
    bounds_frame = _materialize(
        keyed.where(F.col("_v").isNotNull())
        .groupBy("_gk")
        .agg(F.percentile_approx("_v", splits, acc).alias("_bounds")),
        eager=True,
    )
    stats = stats.join(mark(bounds_frame), ["_gk"], "left")

    # ---- target ranks: pure column math on the stats frame -------------
    plist = F.array(
        *[
            F.struct(
                F.lit(int(j)).alias("_pi"), F.lit(float(p)).alias("_p")
            )
            for j, p in enumerate(probs)
        ]
    )
    targets = (
        stats.where(F.col("_nn") > 0)
        .select("_gk", "_nn", F.explode(plist).alias("_pp"))
        .select(
            "_gk",
            F.col("_pp._pi").alias("_pi"),
            (F.col("_pp._p") * (F.col("_nn") - 1).cast("double")).alias("_h"),
        )
        .select(
            "_gk",
            "_pi",
            (F.col("_h") - F.floor("_h").cast("double")).alias("_frac"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("lo").alias("_w"),
                        (F.floor("_h") + 1).alias("_r"),
                    ),
                    F.struct(
                        F.lit("hi").alias("_w"),
                        (F.ceil("_h") + 1).alias("_r"),
                    ),
                )
            ).alias("_t"),
        )
        .select(
            "_gk", "_pi", "_frac",
            F.col("_t._w").alias("_w"), F.col("_t._r").alias("_r"),
        )
    )

    nonnull = keyed.where(F.col("_v").isNotNull())
    bounds = stats.select("_gk", "_bounds")
    # bucket = |{b : b < v}| — monotone in v, ties stay together, so
    # (bucket, v) ordering is exactly the global value ordering.
    bucket = F.size(
        F.filter(F.col("_bounds"), lambda b: b < F.col("_v"))
    )
    bucketed = nonnull.join(mark(bounds), ["_gk"]).select(
        "_gk", "_v", bucket.alias("_bucket")
    )

    # ---- pass 2: bucket counts → global rank offsets --------------
    bcounts = bucketed.groupBy("_gk", "_bucket").agg(
        F.count(F.lit(1)).alias("_bc")
    )
    wb = (
        Window.partitionBy("_gk")
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bcounts = _materialize(
        bcounts.withColumn(
            "_off", F.coalesce(F.sum("_bc").over(wb), F.lit(0))
        ),
        eager=True,
    )  # G×B rows; reused twice below

    # which bucket contains each target rank
    tb = (
        targets.join(mark(bcounts), ["_gk"])
        .where(
            (F.col("_r") > F.col("_off"))
            & (F.col("_r") <= F.col("_off") + F.col("_bc"))
        )
        .select("_gk", "_pi", "_frac", "_w", "_r", "_bucket")
    )
    needed = tb.select("_gk", "_bucket").distinct()

    # ---- pass 3: selection — only needed buckets survive ----------
    sel = bucketed.join(
        mark(needed), ["_gk", "_bucket"], "left_semi"
    )
    vals = sel.groupBy("_gk", "_bucket", "_v").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wv = (
        Window.partitionBy("_gk", "_bucket")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offs = bcounts.select("_gk", "_bucket", "_off")
    ranged = (
        vals.withColumn("_cum", F.sum("_c").over(wv))
        .join(mark(offs), ["_gk", "_bucket"])
        .withColumn("_end", F.col("_off") + F.col("_cum"))
        .withColumn("_start", F.col("_end") - F.col("_c") + 1)
    )
    picked = ranged.join(mark(tb), ["_gk", "_bucket"]).where(
        (F.col("_r") >= F.col("_start")) & (F.col("_r") <= F.col("_end"))
    )

    # ---- interpolate + pivot wide --------------------------------------
    # Each (group, _pi, _w) target matches exactly ONE picked row (the
    # unique value sliver containing its rank), so the per-prob lo/hi
    # endpoints and the frac pivot directly in a single groupBy(group)
    # aggregation — one shuffle stage instead of the per-(group, prob)
    # pre-aggregation + pivot pair (picked is ≤ 2·|probs| rows per group
    # either way; the merged form just drops a stage of fixed overhead).
    aggs = []
    for j in range(len(probs)):
        pi = F.col("_pi") == j
        aggs.append(
            F.max(F.when(pi & (F.col("_w") == "lo"), F.col("_v"))).alias(
                f"_vlo{j}"
            )
        )
        aggs.append(
            F.max(F.when(pi & (F.col("_w") == "hi"), F.col("_v"))).alias(
                f"_vhi{j}"
            )
        )
        aggs.append(F.max(F.when(pi, F.col("_frac"))).alias(f"_frac{j}"))
    wide = picked.groupBy("_gk").agg(*aggs).select(
        "_gk",
        *[
            (
                F.col(f"_vlo{j}")
                + (F.col(f"_vhi{j}") - F.col(f"_vlo{j}"))
                * F.col(f"_frac{j}")
            ).alias(name)
            for j, name in enumerate(out_names)
        ],
    )
    return stats.join(mark(wide), ["_gk"], "left").select(
        *[F.col("_gk").getField(c).alias(c) for c in group_cols],
        *out_names,
        F.col("_n_all").cast("bigint").alias(n_name),
    )


def grouped_quantile_pandas(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probs: Sequence[float],
    *,
    out_names: Sequence[str] | None = None,
    n_name: str = "n",
) -> DataFrame:
    """The grouped-map (``applyInPandas``) form of the same contract — one
    Arrow batch per group, pandas ``Series.quantile`` inside.

    Kept as the API-class showcase and the readability baseline: correct
    and convenient while every group fits one task, but each group's
    rows land on a SINGLE task (the measured 15× slope at 10M events) —
    use :func:`grouped_quantile_cont` for hot groups.  Equality of the
    two paths is pinned in tests/test_quantiles.py.
    """
    import pandas as pd

    probs = _check_probs(probs)
    group_cols = list(group_cols)
    out_names = _check_names(probs, out_names, group_cols, n_name)

    src = df.select(*group_cols, F.col(value_col).cast("double").alias("_v"))
    gtypes = dict(zip(src.columns, [f.dataType.simpleString() for f in src.schema]))
    schema = ", ".join(
        [f"{c} {gtypes[c]}" for c in group_cols]
        + [f"{name} double" for name in out_names]
        + [f"{n_name} bigint"]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["_v"].astype(float)
        row = {c: pdf[c].iloc[0] for c in group_cols}
        for p, name in zip(probs, out_names):
            q = v.quantile(p)
            row[name] = float(q) if pd.notna(q) else None
        row[n_name] = len(pdf)
        return pd.DataFrame([row])

    return src.groupBy(*group_cols).applyInPandas(kernel, schema=schema)
