"""Distributed exact grouped quantiles (operators/quantiles.py).

The exactness claim is the whole point (VERDICT r05 #2: replace the
single-task-per-group applyInPandas path with a distributed selection
that is EXACT, not approximate) — so every test here compares against an
independent oracle: DuckDB `quantile_cont`, pandas `Series.quantile`
(definitionally the same linear interpolation on DOUBLE), or both.  The
bucketed path is forced via `n_buckets` on small data; boundary placement
must never affect values, only bucket sizes.
"""

from __future__ import annotations

import math
import random

import pyspark.sql.functions as F
import pytest

from overturemaps_duckdb_spark.operators.quantiles import (
    grouped_quantile_cont,
    grouped_quantile_pandas,
)

PROBS = [0.5, 0.9]


def _oracle_rows(rows, probs):
    """DuckDB quantile_cont over (g, v) tuples → {g: ([q...], n_all)}."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE tv (g VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO tv VALUES (?, ?)", rows)
    qcols = ", ".join(
        f"quantile_cont(v, {p}) AS q{i}" for i, p in enumerate(probs)
    )
    out = con.execute(
        f"SELECT g, {qcols}, count(*) AS n FROM tv GROUP BY g"
    ).fetchall()
    con.close()
    return {r[0]: (list(r[1:-1]), r[-1]) for r in out}


def _spark_rows(df):
    return {
        r[0]: ([r[i] for i in range(1, len(r) - 1)], r[-1])
        for r in df.collect()
    }


def _assert_close(got, want):
    assert set(got) == set(want)
    for g in want:
        gq, gn = got[g]
        wq, wn = want[g]
        assert gn == wn, f"group {g}: n {gn} != {wn}"
        for a, b in zip(gq, wq):
            if b is None or (isinstance(b, float) and math.isnan(b)):
                assert a is None, f"group {g}: {a} != NULL"
            else:
                assert a == pytest.approx(b, abs=1e-9), f"group {g}"


def _mk(spark, rows):
    return spark.createDataFrame(rows, "g string, v double")


def test_fast_path_matches_duckdb(spark):
    rng = random.Random(42)
    rows = [
        (f"g{i % 4}", round(rng.uniform(-100, 100), 3)) for i in range(997)
    ]
    df = _mk(spark, rows)
    out = grouped_quantile_cont(df, ["g"], "v", PROBS, n_buckets=1)
    _assert_close(_spark_rows(out), _oracle_rows(rows, PROBS))


@pytest.mark.parametrize("n_buckets", [2, 7, 32])
def test_bucketed_path_matches_duckdb(spark, n_buckets):
    """Exactness must be independent of bucket count/boundary placement."""
    rng = random.Random(n_buckets)
    rows = [
        (f"g{i % 3}", round(rng.gauss(0, 50), 2)) for i in range(1501)
    ]
    df = _mk(spark, rows)
    out = grouped_quantile_cont(df, ["g"], "v", PROBS, n_buckets=n_buckets)
    _assert_close(_spark_rows(out), _oracle_rows(rows, PROBS))


def test_duplicate_heavy_and_constant_groups(spark):
    """All-equal groups, few distinct values, single-row groups — the
    duplicate-collapse and h-integral (frac=0) edges."""
    rows = (
        [("const", 7.0)] * 400
        + [("two", 1.0)] * 150
        + [("two", 2.0)] * 151
        + [("one", 42.5)]
    )
    df = _mk(spark, rows)
    for nb in (1, 8):
        out = grouped_quantile_cont(df, ["g"], "v", PROBS, n_buckets=nb)
        _assert_close(_spark_rows(out), _oracle_rows(rows, PROBS))


def test_null_handling_matches_quantile_cont(spark):
    """NULLs count in n (count(*)) but never enter the quantile; an
    all-NULL group yields NULL quantiles, like DuckDB."""
    rows = [("a", 1.0), ("a", None), ("a", 3.0), ("b", None), ("b", None)]
    df = _mk(spark, rows)
    for nb in (1, 4):
        out = grouped_quantile_cont(df, ["g"], "v", PROBS, n_buckets=nb)
        got = _spark_rows(out)
        assert got["a"] == ([2.0, pytest.approx(2.8)], 3)
        assert got["b"] == ([None, None], 2)


def test_null_group_key_parity(spark):
    """ADVICE r06 (high): the bucketed route's internal joins must be
    null-safe on the group key — plain `=` drops NULL-keyed groups after
    pass 1, so adaptive routing would flip the group's answer from a
    value to NULL as data grows.  Every route must agree with DuckDB
    (whose GROUP BY keeps NULL keys)."""
    rng = random.Random(13)
    rows = (
        [(None, round(rng.uniform(0, 10), 2)) for _ in range(211)]
        + [("a", round(rng.uniform(0, 10), 2)) for _ in range(190)]
        + [(None, None), ("a", None)]
    )
    df = _mk(spark, rows)
    want = _oracle_rows(rows, PROBS)
    for nb in (1, 4, None):  # fast path, forced buckets, adaptive
        out = grouped_quantile_cont(
            df, ["g"], "v", PROBS, n_buckets=nb, target_bucket_rows=50
        )
        _assert_close(_spark_rows(out), want)


def test_null_group_key_many_group_regime(spark, monkeypatch):
    """Null-safe keying must hold in the UNHINTED (shuffle-join) regime
    too — the null drop is a join-semantics property, not a broadcast
    one."""
    from overturemaps_duckdb_spark.operators import quantiles as Q

    rows = [(None, float(i % 31)) for i in range(400)] + [
        ("x", float(i % 17)) for i in range(300)
    ]
    df = _mk(spark, rows)
    monkeypatch.setattr(Q, "BROADCAST_GROUP_LIMIT", 0)
    out = grouped_quantile_cont(df, ["g"], "v", PROBS, n_buckets=4)
    _assert_close(_spark_rows(out), _oracle_rows(rows, PROBS))


@pytest.mark.parametrize("n_buckets", [1, 5])
def test_null_composite_group_key(spark, n_buckets):
    """NULL in ONE field of a composite key: the struct key compares
    fields null-safely, so (NULL, 1) and ('s0', NULL) are real groups
    distinct from each other — exactly DuckDB's GROUP BY."""
    import duckdb

    rng = random.Random(31)
    rows = [
        (rng.choice(["s0", "s1", None]), rng.choice([0, 1, None]),
         round(rng.uniform(0, 20), 1))
        for _ in range(900)
    ]
    df = spark.createDataFrame(rows, "src string, k int, v double")
    out = grouped_quantile_cont(
        df, ["src", "k"], "v", PROBS, n_buckets=n_buckets
    )
    got = {
        (r["src"], r["k"]): ([r["q0_5"], r["q0_9"]], r["n"])
        for r in out.collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE tv (src VARCHAR, k INT, v DOUBLE)")
    con.executemany("INSERT INTO tv VALUES (?, ?, ?)", rows)
    want = {
        (r[0], r[1]): ([r[2], r[3]], r[4])
        for r in con.execute(
            "SELECT src, k, quantile_cont(v, 0.5), quantile_cont(v, 0.9),"
            " count(*) FROM tv GROUP BY src, k"
        ).fetchall()
    }
    con.close()
    _assert_close(got, want)


def test_pandas_form_validates_like_cont(spark):
    """ADVICE r06 (low): the applyInPandas form shares the cont path's
    out_names validation — length mismatch, duplicates, and collisions
    raise instead of silently truncating via zip."""
    df = _mk(spark, [("a", 1.0)])
    with pytest.raises(ValueError):
        grouped_quantile_pandas(df, ["g"], "v", [0.5, 0.9], out_names=["only"])
    with pytest.raises(ValueError):
        grouped_quantile_pandas(df, ["g"], "v", [0.5, 0.9], out_names=["x", "x"])
    with pytest.raises(ValueError):
        grouped_quantile_pandas(df, ["g"], "v", [0.5], out_names=["g"])
    with pytest.raises(ValueError):
        grouped_quantile_pandas(df, ["g"], "v", [0.5], out_names=["n"])


def test_pandas_form_agrees_with_distributed(spark):
    """grouped_quantile_pandas (the applyInPandas showcase) and the
    distributed selection are the same contract."""
    rng = random.Random(7)
    rows = [(f"g{i % 5}", rng.uniform(0, 1)) for i in range(800)]
    df = _mk(spark, rows)
    a = _spark_rows(
        grouped_quantile_cont(
            df, ["g"], "v", PROBS, out_names=["p50", "p90"], n_buckets=6
        )
    )
    b = _spark_rows(
        grouped_quantile_pandas(
            df, ["g"], "v", PROBS, out_names=["p50", "p90"]
        )
    )
    _assert_close(a, b)


def test_randomized_parity(spark):
    """Property-style sweep: random sizes, skews, duplicate rates, probs
    including 0 and 1 and h-integral points; every draw must match
    DuckDB exactly (1e-9)."""
    rng = random.Random(2026)
    for trial in range(4):
        probs = sorted(rng.sample([0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0], 3))
        rows = []
        for gi in range(rng.randint(1, 4)):
            n = rng.randint(1, 400)
            vocab = [round(rng.uniform(-10, 10), 1) for _ in range(max(1, n // 10))]
            rows += [(f"g{gi}", rng.choice(vocab)) for _ in range(n)]
        df = _mk(spark, rows)
        nb = rng.choice([1, 2, 5, 16])
        out = grouped_quantile_cont(df, ["g"], "v", probs, n_buckets=nb)
        _assert_close(_spark_rows(out), _oracle_rows(rows, probs))


def test_adaptive_regime_boundary(spark):
    """The ADAPTIVE B>1 route (probe → bucketed machinery) is otherwise
    only exercised by the 10M off-CI sweeps — small fixtures always probe
    into B=1.  Shrink `target_bucket_rows` so the same data crosses the
    boundary both ways; values must match DuckDB on either side."""
    rng = random.Random(99)
    rows = [("big", round(rng.uniform(0, 100), 1)) for _ in range(300)] + [
        ("small", float(i)) for i in range(7)
    ]
    df = _mk(spark, rows)
    want = _oracle_rows(rows, PROBS)
    # max_nn=300 > 50 → adaptive picks B=16 (clamped), bucketed machinery
    out_b = grouped_quantile_cont(
        df, ["g"], "v", PROBS, target_bucket_rows=50
    )
    # the checkpointed bounds frame shows up as LogicalRDD (its
    # percentile_approx already ran), so the route marker is the bucket
    # assignment column
    plan = out_b._jdf.queryExecution().optimizedPlan().toString()
    assert "_bucket" in plan, "expected the bucketed route"
    _assert_close(_spark_rows(out_b), want)
    # max_nn=300 <= 300 → B=1 single-aggregate route, same values
    out_f = grouped_quantile_cont(
        df, ["g"], "v", PROBS, target_bucket_rows=300
    )
    plan_f = out_f._jdf.queryExecution().optimizedPlan().toString()
    assert "_bucket" not in plan_f and "percentile" in plan_f, (
        "expected the B=1 single-aggregate route"
    )
    _assert_close(_spark_rows(out_f), want)


def test_adaptive_bucket_choice_small_data(spark):
    """Small groups auto-select the B=1 fast path (no boundary column in
    the stats plan), and the result still matches."""
    rows = [("a", float(i)) for i in range(100)]
    df = _mk(spark, rows)
    out = grouped_quantile_cont(df, ["g"], "v", PROBS)
    _assert_close(_spark_rows(out), _oracle_rows(rows, PROBS))


def test_no_full_data_shuffle_in_bucketed_plan(spark):
    """The scale claim, pinned on the plan: with the group column NOT in
    any Exchange of the full-width data.  Every hashpartitioning in the
    bucketed plan operates on reduced relations (group stats, bucket
    counts, selected slivers) — the raw scan feeds only aggregations
    with map-side partials, never a row-preserving Exchange.

    Proxy assertion: no Exchange hashpartitioning on the bare group key
    alone (the old applyInPandas plan's signature — one partition per
    group carrying every row)."""
    rows = [(f"g{i % 3}", float(i % 97)) for i in range(3000)]
    df = _mk(spark, rows)
    out = grouped_quantile_cont(df, ["g"], "v", PROBS, n_buckets=8)
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # Every join in the operator is an explicit broadcast of a reduced
    # relation (stats/bounds/targets/bucket-counts) — localCheckpoint
    # frames carry no catalyst stats, so without the hints the boundary
    # join silently degraded to a full-data shuffle (profiled: 2.3× the
    # whole-query time at 10M rows).  SMJ in this plan == regression.
    assert "SortMergeJoin" not in plan, "quantile joins must broadcast"


def test_invalid_args(spark):
    df = _mk(spark, [("a", 1.0)])
    with pytest.raises(ValueError):
        grouped_quantile_cont(df, ["g"], "v", [])
    with pytest.raises(ValueError):
        grouped_quantile_cont(df, ["g"], "v", [1.5])
    with pytest.raises(ValueError):
        grouped_quantile_cont(df, ["g"], "v", [0.5, 0.5])
    with pytest.raises(ValueError):
        grouped_quantile_cont(df, ["g"], "v", [0.5], n_buckets=0)
    with pytest.raises(ValueError):
        grouped_quantile_cont(df, ["g"], "v", [0.5], out_names=["g"])


def test_many_group_regime_unhinted_joins(spark, monkeypatch):
    """Past BROADCAST_GROUP_LIMIT the reduced per-group frames are
    G-proportional, so force-broadcasting them is the OOM path at scale —
    the operator must drop every broadcast hint (shuffle joins on the
    group key) and still produce identical values.  Pin both: no
    broadcast hint reaches the optimized plan, and DuckDB parity."""
    from overturemaps_duckdb_spark.operators import quantiles as Q

    rows = [(f"g{i % 5}", float(i % 113)) for i in range(2000)]
    df = _mk(spark, rows)

    monkeypatch.setattr(Q, "BROADCAST_GROUP_LIMIT", 0)
    out = grouped_quantile_cont(df, ["g"], "v", PROBS, n_buckets=4)
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in logical.lower(), "hint leaked into many-group plan"
    _assert_close(_spark_rows(out), _oracle_rows(rows, PROBS))

    # default regime on the same data: hints present (the checkpointed
    # frames have no stats — without the hints the planner shuffles the
    # full data; see test_no_full_data_shuffle_in_bucketed_plan)
    monkeypatch.setattr(Q, "BROADCAST_GROUP_LIMIT", 2_000_000)
    out2 = grouped_quantile_cont(df, ["g"], "v", PROBS, n_buckets=4)
    logical2 = out2._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in logical2.lower()
    _assert_close(_spark_rows(out2), _oracle_rows(rows, PROBS))


def test_fast_path_is_single_aggregation(spark):
    """The B=1 plan (forced or adaptive) is ONE exact-percentile hash
    aggregate: no join of any kind, no pandas evaluator, and the only
    Exchange is the group-key one that carries the bounded (value,
    count) partial buffers.  The regime toggle (BROADCAST_GROUP_LIMIT)
    is irrelevant here — there is nothing to hint either way."""
    rows = [(f"g{i % 5}", float(i % 113)) for i in range(2000)]
    df = _mk(spark, rows)
    for kwargs in ({"n_buckets": 1}, {}):  # forced, then adaptive probe
        out = grouped_quantile_cont(df, ["g"], "v", PROBS, **kwargs)
        plan = out._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan =="
        )[0]
        assert "Join" not in plan, f"fast path must not join ({kwargs})"
        assert "percentile" in plan
        assert "FlatMapGroupsInPandas" not in plan
        assert plan.count("Exchange") <= 1, plan
        _assert_close(_spark_rows(out), _oracle_rows(rows, PROBS))


@pytest.mark.parametrize("n_buckets", [1, 4])
def test_composite_group_key(spark, n_buckets):
    """Multiple group columns: every internal join/window keys on the full
    composite (src, k) — a bug that joined on a prefix would mix groups.
    Oracle: DuckDB quantile_cont grouped on both columns."""
    import duckdb

    rng = random.Random(7)
    rows = [
        (f"s{i % 3}", i % 4, round(rng.uniform(0, 50), 1))
        for i in range(1200)
    ] + [("s0", 99, None), ("lonely", 0, 5.0)]
    df = spark.createDataFrame(rows, "src string, k int, v double")
    out = grouped_quantile_cont(df, ["src", "k"], "v", PROBS, n_buckets=n_buckets)
    got = {
        (r["src"], r["k"]): ([r["q0_5"], r["q0_9"]], r["n"])
        for r in out.collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE tv (src VARCHAR, k INT, v DOUBLE)")
    con.executemany("INSERT INTO tv VALUES (?, ?, ?)", rows)
    want = {
        (r[0], r[1]): ([r[2], r[3]], r[4])
        for r in con.execute(
            "SELECT src, k, quantile_cont(v, 0.5), quantile_cont(v, 0.9),"
            " count(*) FROM tv GROUP BY src, k"
        ).fetchall()
    }
    con.close()
    _assert_close(got, want)


def test_reliable_checkpoint_when_dir_configured(spark, tmp_path):
    """On a real cluster a lost executor silently drops localCheckpoint
    blocks, so when the session has a checkpoint dir the operator's
    determinism pins (stats / bounds / bucket counts) must go through
    reliable checkpoint() instead.  Observable: the configured dir gains
    rdd-* checkpoint data, and values are unchanged on both routes."""
    sc = spark.sparkContext
    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        rows = [(f"g{i % 3}", float(i % 53)) for i in range(900)]
        df = _mk(spark, rows)
        want = _oracle_rows(rows, PROBS)
        for nb in (4, None):  # bucketed route, then adaptive B=1
            out = grouped_quantile_cont(df, ["g"], "v", PROBS, n_buckets=nb)
            _assert_close(_spark_rows(out), want)
        written = [p for p in ckpt.rglob("rdd-*") if p.is_dir()]
        assert written, "expected reliable checkpoint data under the dir"
    finally:
        # un-configure so later tests keep the localCheckpoint dev form
        # (no public unset API; the JVM field setter is bytecode-public)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
        assert not sc._jsc.sc().getCheckpointDir().isDefined()


def test_sizing_key_memoizes_probe(spark):
    """VERDICT r06 #5: the adaptive sizing probe is a real job a repeat
    caller shouldn't re-pay.  A miss probes and stores the decision; a
    hit routes like a forced n_buckets — a stored 1 must produce the
    no-join single-aggregate plan with NO sizing job, a stored B>1 the
    bucketed machinery — and values match DuckDB on every route."""
    from overturemaps_duckdb_spark.operators._util import cache_get, cache_stats
    from overturemaps_duckdb_spark.operators.quantiles import SIZING_SLOT

    rows = [(f"g{i % 3}", float(i % 41)) for i in range(600)]
    df = _mk(spark, rows)
    want = _oracle_rows(rows, PROBS)

    def stored(key):
        return cache_get(spark, SIZING_SLOT, key)

    def delta(fn):
        before = cache_stats(spark, SIZING_SLOT)
        out = fn()
        after = cache_stats(spark, SIZING_SLOT)
        return out, {k: after[k] - before[k] for k in after}

    k1 = ("test_sizing_key", "k1")
    out, d = delta(lambda: grouped_quantile_cont(
        df, ["g"], "v", PROBS, sizing_key=k1
    ))
    _assert_close(_spark_rows(out), want)
    assert d == {"hits": 0, "misses": 1, "evicts": 0}
    assert stored(k1) == 1  # every group fits -> fast path stored

    # hit: same single-aggregation plan as a FORCED n_buckets=1 (the
    # probe-free route — no stats subtree, no join)
    out2, d = delta(lambda: grouped_quantile_cont(
        df, ["g"], "v", PROBS, sizing_key=k1
    ))
    assert d == {"hits": 1, "misses": 0, "evicts": 0}
    plan = out2._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "Join" not in plan and "percentile" in plan
    assert plan.count("Exchange") <= 1
    _assert_close(_spark_rows(out2), want)

    # adaptive big-group decision is stored and replayed as bucketed
    k2 = ("test_sizing_key", "k2")
    out3 = grouped_quantile_cont(
        df, ["g"], "v", PROBS, target_bucket_rows=50, sizing_key=k2,
    )
    _assert_close(_spark_rows(out3), want)
    assert stored(k2) >= 16
    out4, d = delta(lambda: grouped_quantile_cont(
        df, ["g"], "v", PROBS, target_bucket_rows=50, sizing_key=k2,
    ))
    assert d["hits"] == 1
    assert "_bucket" in out4._jdf.queryExecution().optimizedPlan().toString()
    _assert_close(_spark_rows(out4), want)

    # forced n_buckets ignores the memo entirely (no store, no read)
    k3 = ("test_sizing_key", "k3")
    _, d = delta(lambda: grouped_quantile_cont(
        df, ["g"], "v", PROBS, n_buckets=1, sizing_key=k3,
    ).collect())
    assert d == {"hits": 0, "misses": 0, "evicts": 0}
    assert stored(k3) is None


def test_quantile_cont_randomized_differential(spark):
    """Randomized differential pin for the quantile_cont ≡ percentile
    mapping the console and the distributed operator both rely on:
    random groups with NULLs, duplicates, negatives, and single-row
    groups, at random probs — per-value agreement with duckdb to 9 dp,
    through BOTH the B=1 fast path and the forced-bucketed path."""
    import random

    import duckdb

    from overturemaps_duckdb_spark.operators.quantiles import (
        grouped_quantile_cont,
    )

    rng = random.Random(411)
    rows = []
    for g in range(8):
        n = rng.choice([1, 2, 3, 7, 40])
        for _ in range(n):
            v = (
                None
                if rng.random() < 0.15
                else round(rng.uniform(-50, 50), 3) * rng.choice([1, 1, 1, 0])
            )
            rows.append((f"g{g}", v))
    probs = sorted(rng.sample([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99], 3))
    df = spark.createDataFrame(rows, "grp string, v double")

    con = duckdb.connect()
    con.register("tq", __import__("pandas").DataFrame(rows, columns=["grp", "v"]))
    want = {}
    sel = ", ".join(
        f"quantile_cont(v, {p}) AS q{k}" for k, p in enumerate(probs)
    )
    for r in con.execute(
        f"SELECT grp, {sel}, count(*) AS n FROM tq GROUP BY grp"
    ).fetchall():
        want[r[0]] = tuple(
            round(x, 9) if x is not None else None for x in r[1:-1]
        ) + (r[-1],)

    names = [f"q{k}" for k in range(len(probs))]
    for kwargs in ({"n_buckets": 1}, {"n_buckets": 3}):
        got = {}
        for r in grouped_quantile_cont(
            df, ["grp"], "v", probs, out_names=names, **kwargs
        ).collect():
            got[r["grp"]] = tuple(
                round(r[nm], 9) if r[nm] is not None else None for nm in names
            ) + (r["n"],)
        assert got == want, (kwargs, {
            k: (got[k], want[k]) for k in want if got.get(k) != want[k]
        })
