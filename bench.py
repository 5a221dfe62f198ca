#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": <sec>, ...}, "sf": 0.1}

Each query is fully executed via the no-op sink (`format("noop")`) so the
whole plan runs — including pandas-UDF columns that `count()` would prune —
without driver-side collection skewing the numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from overturemaps_duckdb_spark import queries as _q  # noqa: E402
from overturemaps_duckdb_spark.session import (  # noqa: E402
    _default_parallelism,
    get_spark,
)

_q.load_all()

#: Representative slice of the inventory: TPC-H-shaped relational, spatial
#: band joins + geo kernel, dedup (LSH + exact), FTS/BM25, windows/events,
#: similarity — the operators whose plans matter at 100 TB.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "j1_spatial_intersect_join",
    "j2_semi_join_within",
    "j4_bidirectional_match",
    "g1_g2_polygon_type_centroid_area",
    "d1_exact_dedup",
    "d2_minhash_lsh_pairs",
    "d3_simhash_buckets",
    "t2_bm25_topk",
    "n1_cosine_topk",
    "e1_tumbling_window",
    "w1_topk_per_group",
    "u1_union_all_aligned",
    "pl4_within_filter",
    "pl6_search_fts",
    "i1_stream_tumbling_window",
    "m3_asset_byte_features",
    "e4_grouped_quantiles",
]


def _run_pass(spark, sf_dir: str, errors: dict[str, str]) -> dict[str, float]:
    """One cold-session measurement pass: warmup every headline query at
    sf0.001 (amortize Catalyst/codegen class-loading — fixed per-process
    costs a long-lived cluster never re-pays), then time each query once at
    `sf_dir`.  Failures are recorded per-query, never fatal (r02 lesson)."""
    for warm in HEADLINE:
        if warm in errors:
            continue
        try:
            _q.QUERIES[warm](spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            errors[warm] = f"warmup: {exc}"[:300]

    times: dict[str, float] = {}
    for name in HEADLINE:
        if name in errors:
            continue
        fn = _q.QUERIES[name]
        t0 = time.monotonic()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[name] = round(time.monotonic() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"timed: {exc}"[:300]
    return times


#: independent cold-session passes per bench run; per-query time = min
#: across passes.  Semantics per pass are IDENTICAL to the single-pass
#: r1-r3 bench (fresh SparkSession per pass, so the appId-keyed FTS/theme
#: memos and `persist()` state die between passes and every pass pays all
#: real first-touch scans/shuffles/index builds) — the min only strips
#: hypervisor-neighbor noise bursts, which on this host inflate identical
#: code runs 19 s → 59 s (NOTES).  `pass_totals` reports every raw pass
#: total so nothing is hidden.
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = _default_parallelism()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    pass_times: list[dict[str, float]] = []
    pass_errors: list[dict[str, str]] = []
    for _ in range(max(1, PASSES)):
        spark = get_spark("bench", cpus=cpus)
        # FATAL, not ERROR: local-mode teardown occasionally logs a benign
        # PythonAccumulatorV2.merge socket trace at ERROR (rc=0, all queries
        # reported) — it has no bearing on results but reads like a failure
        # in the recorded artifact.  Real per-query failures are caught in
        # Python and land in the JSON `errors` field, never on stderr.
        spark.sparkContext.setLogLevel("FATAL")
        # per-pass error scope: a transient pass-1 failure (the noise
        # bursts this design absorbs) must not exclude the query from
        # pass 2 — a query only ERRORS if no pass produced a number
        errs: dict[str, str] = {}
        pass_times.append(_run_pass(spark, sf_dir, errs))
        pass_errors.append(errs)
        if len(pass_times) < max(1, PASSES):
            spark.stop()  # next pass gets a cold session (new appId)

    times = {
        name: min(p[name] for p in pass_times if name in p)
        for name in HEADLINE
        if any(name in p for p in pass_times)
    }
    errors: dict[str, str] = {
        name: next(e[name] for e in pass_errors if name in e)
        for name in HEADLINE
        if name not in times and any(name in e for e in pass_errors)
    }

    # Non-headline extras: measured and reported, NOT in the round-over-round
    # headline total (the headline set is frozen for comparability).
    # s14 is the bucketed-layout demo (NOTES backlog #3): customer/orders
    # written hash-bucketed on the join key, then join+agg with zero
    # Exchange operators — the query itself asserts the plan.  Its time
    # INCLUDES the one-time bucketed write (the honest end-to-end cost; the
    # 100 TB claim is that this write is paid once and every later join is
    # shuffle-free).
    extras: dict[str, float] = {}
    for name in (
        "s14_bucketed_join",
        # r11-restart additions: the new certified LLM-pipeline operators,
        # timed per-round so regressions show up in BENCH_r{N}.json
        "ct1_containment_pairs",
        "x18_bigram_logprob",
        "x19_doc_novelty",
        "mx2_temperature_mixture",
        "sp2_session_safe_split",
        "qs1_quality_weighted_sample",
        "emb1_label_centroids",
        "ct2_cross_corpus_containment",
        "x20_perplexity_buckets",
        # r12: Porter-stemmed BM25 (t6) — tracks the stem kernel's cost
        # on top of the t2 inline-build shape
        "t6_bm25_stemmed",
    ):
        t0 = time.monotonic()
        try:
            _q.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            extras[name] = round(time.monotonic() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"extras: {exc}"[:300]

    # Fact-fact bucketing (VERDICT r04 #2): q9's lineitem⋈orders and q13's
    # customer⋈orders shuffles repeat per query on plain parquet; the
    # co-bucketed layout pays one repartition at write time and every later
    # join is Exchange-free on that edge.  fact_bucket_write is the
    # one-time cost; q9_bucketed / q13_bucketed are the steady-state query
    # times to compare against the headline q9/q13.  Both variants ASSERT
    # the no-Exchange edge on the executed plan — a silent fallback to a
    # shuffling plan would invalidate the number.
    try:
        from overturemaps_duckdb_spark.operators._util import staging_root
        from overturemaps_duckdb_spark.queries import t as _tq
        from overturemaps_duckdb_spark.queries.tpch import q13_plan, q9_plan
        from overturemaps_duckdb_spark.sources.layout import write_cobucketed

        # deterministic per-(app, sf) root (r9 staging-leak class): a
        # bench run must not leave another bucketed fact copy per invoke
        root = staging_root(spark, sf_dir, "benchbkt")
        t0 = time.monotonic()
        li_b, o_b = write_cobucketed(
            spark,
            [
                (_tq(spark, sf_dir, "lineitem"), "omds_bench_bkt_li", "l_orderkey"),
                (_tq(spark, sf_dir, "orders"), "omds_bench_bkt_o", "o_orderkey"),
            ],
            root,
        )
        c_b, o_cb = write_cobucketed(
            spark,
            [
                (_tq(spark, sf_dir, "customer"), "omds_bench_bkt_c", "c_custkey"),
                (_tq(spark, sf_dir, "orders"), "omds_bench_bkt_oc", "o_custkey"),
            ],
            root,
        )
        extras["fact_bucket_write"] = round(time.monotonic() - t0, 3)

        # ADVICE r05: run the bucketed variants with auto-broadcast OFF
        # (mirroring tests/test_layout.py) so the fact-fact edge is
        # provably a SortMergeJoin — if Catalyst statically broadcast
        # orders at bench scale, the old conditional check passed
        # vacuously and the recorded time never exercised the co-bucketed
        # edge.  The SMJ assertion below is now unconditional.  The dims
        # are passed PRE-hinted exactly as test_layout does (a broadcast
        # hint on the input survives threshold -1): otherwise the dim
        # joins also become SMJs whose own exchanges false-positive the
        # "no shuffle below the fact SMJ" slice — found when the same
        # naive check tripped on the sf5 fixture.
        _bt_old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            import pyspark.sql.functions as _F

            q9b = q9_plan(
                li_b,
                _F.broadcast(_tq(spark, sf_dir, "part")),
                _F.broadcast(_tq(spark, sf_dir, "supplier")),
                o_b,
                _F.broadcast(_tq(spark, sf_dir, "nation")),
            )
            t0 = time.monotonic()
            q9b.write.format("noop").mode("overwrite").save()
            extras["q9_bucketed"] = round(time.monotonic() - t0, 3)
            # Plan checks on the statically-planned tree (the noop write
            # runs its own QueryExecution, so this one is pre-AQE — slice
            # off the "== Initial Plan ==" tail if present anyway).  Sound
            # because AQE can only REMOVE exchanges (SMJ→broadcast
            # conversion), never add one the static plan lacks: a shuffle
            # below the static SMJ, a missing bucketed scan, or >1 static
            # exchange in q13 each prove the layout silently failed, which
            # is what these guard.
            plan9 = (
                q9b._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0]
            )
            assert "Bucketed: true" in plan9, "q9 is not reading bucketed scans"
            assert "SortMergeJoin" in plan9, (
                "bucketed q9 must SMJ the fact edge (broadcast is off)"
            )
            smj_sub = plan9.split("SortMergeJoin", 1)[1]
            assert "Exchange hashpartitioning" not in smj_sub, (
                "bucketed q9 fact join must not shuffle"
            )

            q13b = q13_plan(c_b, o_cb)
            t0 = time.monotonic()
            q13b.write.format("noop").mode("overwrite").save()
            extras["q13_bucketed"] = round(time.monotonic() - t0, 3)
            plan13 = (
                q13b._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0]
            )
            assert "Bucketed: true" in plan13, (
                "q13 is not reading bucketed scans"
            )
            assert "SortMergeJoin" in plan13, (
                "bucketed q13 must SMJ the fact edge (broadcast is off)"
            )
            # join + per-customer count inherit the bucket partitioning;
            # only the tiny c_count histogram may shuffle
            assert plan13.count("Exchange hashpartitioning") <= 1, (
                "bucketed q13 shuffled more than the final histogram"
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _bt_old)

        # VERDICT r06 #4: the REGISTERED q9/q13 resolve the same layout
        # through the catalog — time them in the PRODUCTION regime
        # (default broadcast threshold: dims broadcast, facts read
        # co-located buckets).  The structural no-Exchange proof is the
        # broadcast-off block above; here we pin that the registered
        # path actually reads the layout and record its steady-state
        # cost.
        from overturemaps_duckdb_spark.queries import QUERIES as _QR
        from overturemaps_duckdb_spark.sources.layout import (
            register_cobucketed,
            unregister_cobucketed,
        )

        register_cobucketed(
            sf_dir,
            [
                ("lineitem", "l_orderkey", "omds_bench_bkt_li"),
                ("orders", "o_orderkey", "omds_bench_bkt_o"),
                ("customer", "c_custkey", "omds_bench_bkt_c"),
                ("orders", "o_custkey", "omds_bench_bkt_oc"),
            ],
        )
        # ADVICE r07: at small fixtures Catalyst may broadcast orders/
        # customer, and autoBucketedScan would then legitimately DROP the
        # bucketed scan — failing the assert for a planner choice, not a
        # layout-resolution bug.  Pin autoBucketedScan off so the check
        # tracks what it claims to: the registered path resolving the
        # co-bucketed layout.
        _abs_old = spark.conf.get(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        )
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            for qn, key in (
                ("q9_product_type_profit", "q9_registered_bucketed"),
                ("q13_customer_distribution", "q13_registered_bucketed"),
            ):
                frame = _QR[qn](spark, sf_dir)
                t0 = time.monotonic()
                frame.write.format("noop").mode("overwrite").save()
                extras[key] = round(time.monotonic() - t0, 3)
                rplan = (
                    frame._jdf.queryExecution().executedPlan().toString()
                    .split("== Initial Plan ==")[0]
                )
                assert "SelectedBucketsCount" in rplan, (
                    f"registered {qn} did not read the co-bucketed layout"
                )
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                _abs_old,
            )
            unregister_cobucketed(sf_dir)
    except Exception as exc:  # noqa: BLE001
        errors["fact_bucketed"] = f"extras: {exc}"[:300]

    # e4 steady state (VERDICT r06 #5): the headline e4 pays the adaptive
    # sizing probe (first touch of the fixture in the session); repeat
    # calls hit the (app, sf_dir) sizing memo and run the single exact-
    # percentile aggregate with no sizing job — the per-query cost of a
    # session issuing many quantile queries over a stable table.
    try:
        frame = _q.QUERIES["e4_grouped_quantiles"](spark, sf_dir)
        t0 = time.monotonic()
        frame.write.format("noop").mode("overwrite").save()
        extras["e4_steady_state"] = round(time.monotonic() - t0, 3)
    except Exception as exc:  # noqa: BLE001
        errors["e4_steady"] = f"extras: {exc}"[:300]

    # FTS amortization split (NOTES r4 backlog #4): fts_index_write is the
    # one-time ingest-side build+persist of the term-sorted postings
    # tables; t2_bm25_persisted is the same BM25 top-k t2 runs, but over
    # the persisted index — the steady-state per-query cost once the
    # index is a table, vs t2's headline number which pays the inline
    # build on first touch.
    try:
        import tempfile

        from overturemaps_duckdb_spark.operators.fts import (
            bm25_topk,
            build_fts_index,
            read_fts_index,
            write_fts_index,
        )
        from overturemaps_duckdb_spark.queries import t as _t
        from overturemaps_duckdb_spark.queries.fts import QUERY_TEXT

        d = _t(spark, sf_dir, "documents")
        root = tempfile.mkdtemp(prefix="omds_bench_fts_")
        t0 = time.monotonic()
        write_fts_index(build_fts_index(d, "doc_id", "text"), root)
        extras["fts_index_write"] = round(time.monotonic() - t0, 3)
        stored = read_fts_index(spark, root)
        t0 = time.monotonic()
        bm25_topk(stored, d, "doc_id", QUERY_TEXT, limit=10).write.format(
            "noop"
        ).mode("overwrite").save()
        extras["t2_bm25_persisted"] = round(time.monotonic() - t0, 3)

        # r12: porter is now the DEFAULT build (so fts_index_write /
        # t2_bm25_persisted above track the stemmed production path, like
        # the headline t2); this pair tracks the raw-token OPT-OUT so the
        # stem kernel's build cost stays visible as the delta
        sroot = tempfile.mkdtemp(prefix="omds_bench_fts_raw_")
        t0 = time.monotonic()
        write_fts_index(
            build_fts_index(d, "doc_id", "text", stemmer=None), sroot
        )
        extras["fts_raw_index_write"] = round(time.monotonic() - t0, 3)
        sstored = read_fts_index(spark, sroot)
        t0 = time.monotonic()
        bm25_topk(
            sstored, d, "doc_id", QUERY_TEXT, limit=10
        ).write.format("noop").mode("overwrite").save()
        extras["t2_bm25_raw_persisted"] = round(time.monotonic() - t0, 3)
    except Exception as exc:  # noqa: BLE001
        errors["fts_persisted"] = f"extras: {exc}"[:300]

    # IVF amortization split (same shape as FTS): ivf_build_write is the
    # one-time train + `_list`-partitioned store write; ivf_store_probe is
    # the steady-state ANN probe over the persisted store, reading only
    # the probed partitions (n_probe/n_lists of the bytes).
    try:
        import pyspark.sql.functions as F

        from overturemaps_duckdb_spark.operators._util import staging_root
        from overturemaps_duckdb_spark.operators.similarity import (
            ivf_build,
            ivf_topk_from_store,
            ivf_write,
        )
        from overturemaps_duckdb_spark.queries import t as _t

        e = _t(spark, sf_dir, "embeddings")
        root = staging_root(spark, sf_dir, "benchivf") + "/store"
        t0 = time.monotonic()
        assigned, centroids = ivf_build(
            e, id_col="vec_id", vec_col="embedding", n_lists=16, seed=42
        )
        ivf_write(assigned, root)
        extras["ivf_build_write"] = round(time.monotonic() - t0, 3)
        queries_df = e.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        t0 = time.monotonic()
        # scorer explicit since r10 (the DEFAULT is now vectorized):
        # this extra tracks the exact-fold certified path round-over-round
        ivf_topk_from_store(
            spark, root, centroids, queries_df, n_probe=4, k=10,
            scorer="exact",
        ).write.format("noop").mode("overwrite").save()
        extras["ivf_store_probe"] = round(time.monotonic() - t0, 3)
        # production scorer (cosine_vectorized): Arrow/numpy batch cosine —
        # wins big where candidates are millions (BENCH_COMPARE §r9 20M
        # decade); at fixture scale the Python-worker spin-up can make it
        # SLOWER, which this number honestly shows round-over-round.
        t0 = time.monotonic()
        ivf_topk_from_store(
            spark, root, centroids, queries_df, n_probe=4, k=10,
            scorer="vectorized",
        ).write.format("noop").mode("overwrite").save()
        extras["ivf_store_probe_vectorized"] = round(time.monotonic() - t0, 3)
    except Exception as exc:  # noqa: BLE001
        errors["ivf_persisted"] = f"extras: {exc}"[:300]

    # PQ amortization split (r12, same shape): pq_train_encode_write is
    # the one-time codebook fit + Arrow encode + code-table write;
    # pq_adc_rerank_probe is the steady-state ADC shortlist + exact
    # re-rank over the persisted 16×-compressed codes.
    try:
        import pyspark.sql.functions as F

        from overturemaps_duckdb_spark.operators._util import staging_root
        from overturemaps_duckdb_spark.operators.similarity import (
            pq_encode,
            pq_topk_rerank,
            pq_train,
        )
        from overturemaps_duckdb_spark.queries import t as _t

        e = _t(spark, sf_dir, "embeddings")
        pq_root = staging_root(spark, sf_dir, "benchpq") + "/codes"
        t0 = time.monotonic()
        books = pq_train(e, m=16, n_codes=64, seed=42)
        pq_encode(e, books).write.mode("overwrite").parquet(pq_root)
        extras["pq_train_encode_write"] = round(time.monotonic() - t0, 3)
        codes = spark.read.parquet(pq_root)
        queries_df = e.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        t0 = time.monotonic()
        pq_topk_rerank(
            codes, books, e, queries_df, k=10
        ).write.format("noop").mode("overwrite").save()
        extras["pq_adc_rerank_probe"] = round(time.monotonic() - t0, 3)
    except Exception as exc:  # noqa: BLE001
        errors["pq_persisted"] = f"extras: {exc}"[:300]

    # SemDeDup (r12): the certified seeded form over the embeddings
    # fixture — tracks the collapse-defaulted cluster-bounded pipeline
    try:
        from overturemaps_duckdb_spark.operators.similarity import (
            seed_centroids,
            semantic_dedup,
        )
        from overturemaps_duckdb_spark.queries import t as _t

        e = _t(spark, sf_dir, "embeddings")
        seeds = seed_centroids(e, 8)
        t0 = time.monotonic()
        semantic_dedup(
            e, seeds, threshold=0.35, round_d2=6
        ).write.format("noop").mode("overwrite").save()
        extras["sd1_semantic_dedup"] = round(time.monotonic() - t0, 3)
    except Exception as exc:  # noqa: BLE001
        errors["semantic_dedup"] = f"extras: {exc}"[:300]

    total = round(sum(times.values()), 3)
    # median reported ALONGSIDE the min (VERDICT r04): min-of-passes strips
    # host noise bursts but flatters vs the r1-r3 single-pass series; the
    # median gives a comparable aggregation on both axes without hiding
    # either.  With the default 2 passes, median == mean of the passes.
    import statistics

    times_median = {
        name: round(
            statistics.median([p[name] for p in pass_times if name in p]), 3
        )
        for name in times
    }
    # COMPACT final stdout line (VERDICT r11 #4): BENCH_r11.json recorded
    # `parsed: null` because the single JSON line had grown past the
    # driver's tail-capture window (~24 extras + per-query medians) and the
    # captured tail started mid-JSON.  The driver must never lose the
    # headline again: stdout carries ONLY the headline payload (metric,
    # total, per-query mins, pass accounting — the same shape r10 parsed),
    # and everything else (medians, extras, error details) goes to the
    # bench_full.json sidecar, committed per-round via BENCH_COMPARE.md.
    payload = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "passes": len(pass_times),
        "agg": "min_per_query",
        "median_total": round(sum(times_median.values()), 3),
        "pass_totals": [
            round(sum(p.values()), 3) for p in pass_times
        ],
        # Scaling observability (VERDICT r13 #2): the driver's low-core run
        # flagged suspect_cpus_ignored because nothing in this line PROVED
        # the effective parallelism.  `cpus_requested` is $SPARK_GRAFT_CPUS
        # as read (nproc when unset), `master` the literal master the
        # session was built with, and `cpus_effective` the live
        # sc.defaultParallelism of the timed session — the three together
        # tell a harness bug from an overhead-bound fixture (at sf0.1 every
        # query is dominated by driver latency + first-touch I/O, so 8-core ≈
        # 32-core totals are the honest shape; see BENCH_COMPARE.md §r14
        # for the sf1 pair where cores DO matter).
        "cpus_requested": cpus,
        "master": spark.sparkContext.master,
        "cpus_effective": spark.sparkContext.defaultParallelism,
    }
    full = dict(payload)
    full["queries_median"] = times_median
    if extras:
        full["extras"] = extras
    if errors:
        # a total over a subset is not comparable across rounds — flag it
        # (ADVICE r03) so consumers never read a partial sum as a full one.
        # extras failures don't taint the headline total.
        full["errors"] = errors
        payload["error_names"] = sorted(errors)
        if any(n in HEADLINE for n in errors):
            payload["partial"] = True
            full["partial"] = True
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    try:
        with open(sidecar, "w") as fh:
            json.dump(full, fh, indent=1)
        payload["full"] = "bench_full.json"
    except OSError:
        pass  # read-only checkout: the stdout line is still complete
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
