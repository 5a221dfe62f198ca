"""Bounded session caches (r14, VERDICT r13 #5 / ADVICE r13): the pl4
matched-id sets and the e6/e7 activity frame persist() with no release
path — a long-lived session compiling many DISTINCT pipelines/fixtures
accumulated one dead cache entry per plan forever.  `lru_persist` gives
them the same release discipline `release_materialized` gave the dedup
closure: a bounded per-(session, slot) LRU whose evictions unpersist.
The same session registry (operators/_util) holds the persisted FTS
indexes and the table schemas; its per-slot counters are how these
tests see it."""

from __future__ import annotations

from overturemaps_duckdb_spark.operators._util import (
    LRU_PERSIST_MAX_ENTRIES,
    cache_stats,
    lru_persist,
)


def _live(spark, slot):
    """Entries a slot holds: every miss of these callers stores once."""
    s = cache_stats(spark, slot)
    return s["misses"] - s["evicts"]


def test_lru_persist_bounds_persistent_rdds(spark):
    """Materializing more distinct plans than the cap must leave at most
    `cap` cached frames in the BlockManager — and an evicted frame must
    still recompute the right values (eviction is a cache drop, never a
    correctness event)."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    frames = []
    for i in range(10):
        df = lru_persist(
            spark.range(0, 50 + i).selectExpr("id", f"id * {i + 1} as v"),
            "testslot_bounds",
            max_entries=4,
        )
        df.count()  # materialize the cache entry
        frames.append((df, 50 + i))
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 4, (
        f"lru_persist leaked {after - before} persisted frames past its cap"
    )
    # the oldest (evicted) frame recomputes correctly
    df0, n0 = frames[0]
    assert df0.count() == n0


def test_lru_persist_same_plan_is_one_entry(spark):
    """Spark's CacheManager dedupes by analyzed plan; re-persisting the
    same plan must refresh its LRU slot, not burn an eviction."""
    for _ in range(6):
        lru_persist(
            spark.range(0, 7).selectExpr("id"), "testslot_dedupe", max_entries=2
        )
    assert cache_stats(spark, "testslot_dedupe") == {
        "hits": 5, "misses": 1, "evicts": 0,
    }
    assert _live(spark, "testslot_dedupe") == 1


def test_pipeline_matched_sets_registry_bounded(spark):
    """compile_pipeline routes every matched-id persist through the
    'pipeline_matched_ids' slot: compiling more distinct within-filters
    than the cap keeps the tracked registry (and hence the live cache
    entries) bounded."""
    from overturemaps_duckdb_spark.plans.pipeline import (
        Node,
        compile_pipeline,
    )
    from overturemaps_duckdb_spark.queries.pipeline import SRC_C, catalog_cs
    from tests.conftest import SF_SMOKE

    cat = catalog_cs(spark, SF_SMOKE)
    evicts = cache_stats(spark, "pipeline_matched_ids")["evicts"]
    for i in range(LRU_PERSIST_MAX_ENTRIES + 4):
        nodes = [
            SRC_C,
            Node(
                id="w",
                type="combine",
                op="within",
                table="theme_supplier",
                key="places/supplier",
                distance=500.0 + i,  # distinct distance → distinct plan
            ),
        ]
        compile_pipeline(cat, nodes, limit=5)
    assert _live(spark, "pipeline_matched_ids") <= LRU_PERSIST_MAX_ENTRIES
    assert cache_stats(spark, "pipeline_matched_ids")["evicts"] > evicts


def test_act_days_registry_bounded(spark):
    """_act_days routes through the 'act_days' slot — many distinct event
    frames in one session stay bounded."""
    import pyspark.sql.functions as F

    from overturemaps_duckdb_spark.queries.events import _act_days

    evicts = cache_stats(spark, "act_days")["evicts"]
    for i in range(LRU_PERSIST_MAX_ENTRIES + 3):
        ev = spark.createDataFrame(
            [(1, i)], "user_id long, off long"
        ).select(
            "user_id",
            F.timestamp_micros(
                F.col("off") * 86_400_000_000 + 1_000_000
            ).alias("ts"),
        )
        _act_days(ev)
    assert _live(spark, "act_days") <= LRU_PERSIST_MAX_ENTRIES
    assert cache_stats(spark, "act_days")["evicts"] > evicts


def test_fts_index_slot_bounds_persistent_rdds(spark):
    """fts_index_for over more distinct (fixture, table, stemmer) keys
    than its slot holds: the least recently used indexes are unpersisted,
    so the BlockManager count stays bounded — and an evicted index still
    answers (eviction drops a cache, never values)."""
    from overturemaps_duckdb_spark.queries import t
    from overturemaps_duckdb_spark.queries.fts import fts_index_for
    from tests.conftest import SF_CORRECTNESS, SF_SMOKE

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    evicts = cache_stats(spark, "fts_index")["evicts"]
    built = []
    for sf in (SF_SMOKE, SF_CORRECTNESS):
        for table, id_col, text_col in (
            ("customer", "c_custkey", "c_name"),
            ("supplier", "s_suppkey", "s_name"),
            ("nation", "n_nationkey", "n_name"),
            ("region", "r_regionkey", "r_name"),
            ("part", "p_partkey", "p_name"),
        ):
            for stemmer in ("porter", None):
                idx = fts_index_for(spark, sf, table, id_col, text_col, stemmer)
                for frame in (idx.postings, idx.docstats, idx.stats):
                    frame.count()
                built.append((idx, sf, table))
    assert len(built) > LRU_PERSIST_MAX_ENTRIES
    # an index pins at most its postings, docstats, stats and tokenization
    # frames (20 unbounded indexes pin 50 RDDs)
    grown = jsc.getPersistentRDDs().size() - before
    assert grown <= LRU_PERSIST_MAX_ENTRIES * 4, grown
    assert cache_stats(spark, "fts_index")["evicts"] - evicts >= (
        len(built) - LRU_PERSIST_MAX_ENTRIES
    )
    idx0, sf0, table0 = built[0]
    assert idx0.n_docs == t(spark, sf0, table0).count()


def test_table_schema_slot_hits_across_fixtures(spark):
    """t() over all tables of two fixtures, twice: the second round is
    all schema hits and runs no inference job (a slot bound below the key
    count would cycle the LRU and re-infer on every call)."""
    from overturemaps_duckdb_spark.queries import TABLES, t
    from tests.conftest import SF_CORRECTNESS, SF_SMOKE

    keys = [(sf, name) for sf in (SF_SMOKE, SF_CORRECTNESS) for name in TABLES]
    for sf, name in keys:
        t(spark, sf, name)
    before = cache_stats(spark, "table_schema")
    sc = spark.sparkContext
    sc.setJobGroup("schema-second-round", "t() over every table again")
    try:
        for sf, name in keys:
            t(spark, sf, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    after = cache_stats(spark, "table_schema")
    assert after["hits"] - before["hits"] == len(keys) == 20
    assert after["misses"] == before["misses"]
    assert sc.statusTracker().getJobIdsForGroup("schema-second-round") == []


def test_no_module_level_caches_outside_util():
    """operators/_util owns session caching: no other package module
    defines a module-level dict or set named *_CACHE, *_SIZING or *_MEMO
    (one AST pass, no Spark)."""
    import ast
    import pathlib
    import re

    import overturemaps_duckdb_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    name_re = re.compile(r"_(CACHE|SIZING|MEMO)$")
    makers = {"dict", "set", "OrderedDict", "defaultdict"}
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "operators" / "_util.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            is_container = isinstance(
                value, (ast.Dict, ast.Set, ast.DictComp, ast.SetComp)
            ) or (
                isinstance(value, ast.Call)
                and getattr(value.func, "id", getattr(value.func, "attr", None))
                in makers
            )
            for target in targets:
                if (
                    isinstance(target, ast.Name)
                    and name_re.search(target.id)
                    and is_container
                ):
                    found.append(f"{path.relative_to(root)}:{node.lineno} {target.id}")
    assert not found, found
