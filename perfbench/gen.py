"""Seeded input generation for the three workloads.

Everything here runs before the timed region and is cached by seed under
``.perfbench/data/`` at the checkout root: a second run with the same
seed reuses the files.  The program under test only ever sees the
generated parquet files; the ground truth the checks need (planted
duplicate groups, tile layout, areas) is returned by the generator or
recomputed from the files by the checks themselves.

Tables follow the schemas of the repo's synthetic TPC-H-ish fixtures
(FIXTURES.md section B): same column names, types and value domains, so
the registered queries and their DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the fixture documents' vocabulary (31 words, 'dup' is rare there)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_WORDS = ["small", "red", "blue", "green", "large", "steel"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "pipe", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

#: explore: theme points live on a 1/64-degree grid (exact binary
#: fractions) inside this region, split into TILE_DEG x TILE_DEG files
REGION_LON = (0.0, 16.0)
REGION_LAT = (40.0, 56.0)
TILE_DEG = 4.0
GRID = 64

#: corpus: documents per shard, shards per seed, warm-up shard size
SHARD_DOCS = 5500
SHARDS = 6
WARM_DOCS = 300
EXACT_DUP_SHARE = 0.04
NEAR_DUP_SHARE = 0.04
#: tokens replaced in a planted near duplicate (out of >= 40)
NEAR_DUP_EDITS = 2

#: analytics: base scale of the generated fixture before the 10x replica
ANALYTICS_BASE = {"customer": 600, "supplier": 40, "part": 800, "orders": 6000,
                  "events": 4000}
REPLICAS = 10


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(ord(c) * 131**i for i, c in enumerate(stream)) % (2**31)])


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size)


def _publish(tmp: str, final: str) -> None:
    """Atomically move a finished generation directory into place."""
    try:
        os.rename(tmp, final)
    except OSError:
        # another run published the same seed first: keep theirs
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# TPC-H-ish tables
# ---------------------------------------------------------------------------


def _us(year: int, month: int = 1, day: int = 1) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype(np.int64), type=pa.timestamp("us"))


def region() -> pa.Table:
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})


def nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def customer(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "customer")
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999, 9999, n), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n)],
    })


def supplier(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "supplier")
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999, 9999, n), 2),
    })


def part(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "part")
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": keys,
        "p_name": [f"{PART_WORDS[a]} {PART_NOUNS[b]}"
                   for a, b in zip(r.integers(0, 6, n), r.integers(0, 6, n))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })


def orders_lineitem(seed: int, n_orders: int, n_cust: int, n_part: int,
                    n_supp: int) -> tuple[pa.Table, pa.Table]:
    r = _rng(seed, "orders")
    okeys = np.arange(n_orders, dtype=np.int64)
    day = 86_400_000_000
    odate = _us(1995) + r.integers(0, 2404, n_orders) * day  # to 2001-08
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": r.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_orders)],
        "o_totalprice": np.round(r.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_orders)],
    })
    lines = r.integers(1, 8, n_orders)
    lok = np.repeat(okeys, lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    m = len(lok)
    qty = r.integers(1, 51, m).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": lok,
        "l_partkey": r.integers(0, n_part, m).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, m).astype(np.int64),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, m), 2),
        "l_discount": np.round(r.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, m)],
        "l_shipdate": _ts(np.repeat(odate, lines) + r.integers(1, 122, m) * day),
    })
    return orders, lineitem


def events(seed: int, n: int, n_users: int) -> pa.Table:
    r = _rng(seed, "events")
    ts = np.sort(_us(2024) + r.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": r.integers(0, n_users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(r.uniform(0.01, 490.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n)],
    })


# ---------------------------------------------------------------------------
# documents (the corpus and the explore docs theme)
# ---------------------------------------------------------------------------


def _doc_tokens(r: np.random.Generator, n: int) -> list[list[str]]:
    lens = r.integers(10, 101, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append([VOCAB[w] for w in words[pos:pos + k]])
        pos += k
    return out


def _restyle(r: np.random.Generator, toks: list[str]) -> str:
    """Same normalized text, different surface: case, punctuation and
    spacing change but the lower-cased alphanumeric tokens do not."""
    style = int(r.integers(0, 3))
    if style == 0:
        return " ".join(toks).upper()
    if style == 1:
        return (" ".join(toks).capitalize() + ".").replace(" a ", ", a ")
    return "  ".join(toks) + " !"


def documents(seed: int, n: int, first_id: int = 0, stream: str = "docs"):
    """(table, truth): ``truth`` holds the planted exact-duplicate groups
    and near-duplicate pairs as doc ids."""
    r = _rng(seed, stream)
    toks = _doc_tokens(r, n)
    texts = [" ".join(t) for t in toks]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    n_exact = int(n * EXACT_DUP_SHARE)
    n_near = int(n * NEAR_DUP_SHARE)
    slots = r.permutation(np.arange(n // 2, n))[: n_exact + n_near]
    exact_groups: dict[int, list[int]] = {}
    near_pairs: list[tuple[int, int]] = []
    for j, dst in enumerate(slots):
        dst = int(dst)
        if j < n_exact:
            src = int(r.integers(0, n // 2))
            toks[dst] = list(toks[src])
            texts[dst] = _restyle(r, toks[src])
            exact_groups.setdefault(int(ids[src]), [int(ids[src])]).append(int(ids[dst]))
        else:
            # near duplicate of a long document: a few tokens replaced
            while True:
                src = int(r.integers(0, n // 2))
                if len(toks[src]) >= 40:
                    break
            t = list(toks[src])
            for p in r.choice(len(t), NEAR_DUP_EDITS, replace=False):
                t[int(p)] = VOCAB[int(r.integers(0, len(VOCAB)))]
            toks[dst] = t
            texts[dst] = " ".join(t)
            near_pairs.append((int(ids[src]), int(ids[dst])))
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in r.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    truth = {"exact_groups": sorted(exact_groups.values()), "near_pairs": near_pairs}
    return table, truth


def embeddings(seed: int, n: int, stream: str = "emb") -> pa.Table:
    r = _rng(seed, stream)
    v = r.normal(0, 1, (n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def _shard_events(seed: int, docs: pa.Table, stream: str) -> pa.Table:
    """One event per document whose ``props`` payload is the document
    text: d1 (exact dedup) runs on ``events.props``."""
    r = _rng(seed, stream)
    n = docs.num_rows
    ts = np.sort(_us(2024) + r.integers(0, 86_400_000_000, n))
    return pa.table({
        "event_id": docs.column("doc_id"),
        "ts": _ts(ts),
        "user_id": r.integers(0, 500, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(r.uniform(0.01, 490.0, n), 2),
        "props": docs.column("text"),
    })


# ---------------------------------------------------------------------------
# workload inputs
# ---------------------------------------------------------------------------


def corpus_inputs(root: str, seed: int) -> dict:
    """``SHARDS`` shards of ``SHARD_DOCS`` documents plus one small warm-up
    shard.  Each shard is a fixture-shaped directory (documents, events,
    embeddings); ``truth.json`` keeps the planted duplicates."""
    final = os.path.join(root, "corpus", f"seed-{seed}")
    if not os.path.exists(os.path.join(final, "manifest.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        shards = []
        for k in range(SHARDS + 1):
            n = WARM_DOCS if k == 0 else SHARD_DOCS
            name = "warm" if k == 0 else f"shard-{k}"
            d = os.path.join(tmp, name)
            docs, truth = documents(seed, n, first_id=k * 1_000_000, stream=f"docs{k}")
            _write(docs, os.path.join(d, "documents.parquet"), 1024)
            _write(_shard_events(seed, docs, f"ev{k}"), os.path.join(d, "events.parquet"), 1024)
            _write(embeddings(seed, n * 2 // 5, f"emb{k}"), os.path.join(d, "embeddings.parquet"), 1024)
            with open(os.path.join(d, "truth.json"), "w") as f:
                json.dump(truth, f)
            shards.append(name)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"shards": shards}, f)
        _publish(tmp, final)
    with open(os.path.join(final, "manifest.json")) as f:
        shards = json.load(f)["shards"]
    return {"warm": os.path.join(final, shards[0]),
            "shards": [os.path.join(final, s) for s in shards[1:]]}


def _grid_coords(r: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    span = int((REGION_LON[1] - REGION_LON[0]) * GRID)
    lon = REGION_LON[0] + r.integers(0, span, n) / GRID
    lat = REGION_LAT[0] + r.integers(0, span, n) / GRID
    return lon, lat


def _tile(table: pa.Table, out_dir: str) -> list[str]:
    lon = table.column("lon").to_numpy()
    lat = table.column("lat").to_numpy()
    tx = np.floor((lon - REGION_LON[0]) / TILE_DEG).astype(int)
    ty = np.floor((lat - REGION_LAT[0]) / TILE_DEG).astype(int)
    files = []
    for x in np.unique(tx):
        for y in np.unique(ty):
            mask = (tx == x) & (ty == y)
            if not mask.any():
                continue
            p = os.path.join(out_dir, f"tile_x{x}_y{y}.parquet")
            _write(table.filter(pa.array(mask)), p)
            files.append(p)
    return files


def explore_inputs(root: str, seed: int) -> dict:
    """Three point themes derived from sf0.1-sized customer, supplier and
    document tables, each split into spatial tile files."""
    final = os.path.join(root, "explore", f"seed-{seed}")
    if not os.path.exists(os.path.join(final, "manifest.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        c = customer(seed, 15_000)
        s = supplier(seed, 1_000)
        d, _ = documents(seed, 5_000, stream="themedocs")
        themes = {}
        r = _rng(seed, "coords")
        lon, lat = _grid_coords(r, c.num_rows)
        themes["places_customer"] = pa.table({
            "id": [f"c{k}" for k in c.column("c_custkey").to_pylist()],
            "name": c.column("c_name"),
            "category": c.column("c_mktsegment"),
            "nation": [str(k) for k in c.column("c_nationkey").to_pylist()],
            "lon": lon, "lat": lat,
        })
        lon, lat = _grid_coords(r, s.num_rows)
        themes["places_supplier"] = pa.table({
            "id": [f"s{k}" for k in s.column("s_suppkey").to_pylist()],
            "name": s.column("s_name"),
            "nation": [str(k) for k in s.column("s_nationkey").to_pylist()],
            "lon": lon, "lat": lat,
        })
        lon, lat = _grid_coords(r, d.num_rows)
        themes["docs_document"] = pa.table({
            "id": [f"d{k}" for k in d.column("doc_id").to_pylist()],
            "name": [f"doc {k}" for k in d.column("doc_id").to_pylist()],
            "text": d.column("text"),
            "lang": d.column("lang"),
            "lon": lon, "lat": lat,
        })
        manifest = {}
        for name, table in themes.items():
            files = _tile(table, os.path.join(tmp, name))
            manifest[name] = [os.path.basename(p) for p in files]
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        _publish(tmp, final)
    with open(os.path.join(final, "manifest.json")) as f:
        manifest = json.load(f)
    return {name: [os.path.join(final, name, fn) for fn in files]
            for name, files in manifest.items()}


ANALYTICS_TABLES = ["region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events"]


def analytics_inputs(root: str, seed: int, repo: str) -> dict:
    """A base fixture generated from the seed, then its 10x key-offset
    replica made by the repo's own ``tools/make_scaled_fixture.py``."""
    final = os.path.join(root, "analytics", f"seed-{seed}")
    if not os.path.exists(os.path.join(final, "done")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        base = os.path.join(tmp, "base")
        b = ANALYTICS_BASE
        o, li = orders_lineitem(seed, b["orders"], b["customer"], b["part"], b["supplier"])
        tables = {
            "region": region(), "nation": nation(),
            "customer": customer(seed, b["customer"]),
            "supplier": supplier(seed, b["supplier"]),
            "part": part(seed, b["part"]), "orders": o, "lineitem": li,
            "events": events(seed, b["events"], 150),
        }
        for name, table in tables.items():
            _write(table, os.path.join(base, f"{name}.parquet"))
        tool = os.path.join(repo, "tools", "make_scaled_fixture.py")
        subprocess.run(
            [sys.executable, tool, base, os.path.join(tmp, "x10"), str(REPLICAS),
             ",".join(ANALYTICS_TABLES)],
            check=True, stdout=subprocess.DEVNULL,
        )
        open(os.path.join(tmp, "done"), "w").close()
        _publish(tmp, final)
    return {"base": os.path.join(final, "base"), "x10": os.path.join(final, "x10")}
