"""``corpus``: registered corpus operators over a sequence of new shards.

One round takes the next shard (a fixture-shaped directory of
``gen.SHARD_DOCS`` documents with planted exact and near duplicates) and runs each operator
once on it: the registered constructor ``QUERIES[name](spark, shard)``
followed by ``collect()``.  Every shard is new to the session, so the
engine's per-table caches (FTS index, schema memo) miss and grow.
"""

from __future__ import annotations

import json
import math
import os
import re

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import Recorder, grid_points, kernel_times

OPS = [
    "d1_exact_dedup", "d2_minhash_lsh_pairs", "d3_simhash_buckets",
    "x1_token_count", "x2_quality_score", "x7_repetition_signals",
    "x9_gopher_rules", "t2_bm25_topk", "n1_cosine_topk",
]
#: d2's parameters (queries/dedup.py): 16 hashes in 4 bands, char
#: 5-shingles, verified at Jaccard >= 0.5
D2_HASHES, D2_BANDS, D2_K, D2_THRESHOLD = 16, 4, 5, 0.5
#: t2's query and the vocabulary words its stems match
T2_WORDS = {"table", "scan", "merge"}
#: x9's word-count rule (operators/textprep.py GOPHER_WC_MIN/MAX)
WC_MIN, WC_MAX = 5, 10_000

_TOKEN = re.compile("[a-z0-9]+")


def inputs(root: str, seed: int, repo: str) -> dict:
    return gen.corpus_inputs(root, seed)


def norm(text: str) -> str:
    """d1's normalization: lower case, non-alphanumeric runs to one space,
    trimmed (queries/_sql.norm_sql)."""
    return re.sub("[^a-z0-9]+", " ", text.lower()).strip()


def shingles(text: str, k: int = D2_K) -> set:
    n = norm(text)
    return {n[i:i + k] for i in range(max(len(n) - k + 1, 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


class Workload:
    def __init__(self, spark, files: dict, seed: int, rec: Recorder, work: str):
        from overturemaps_duckdb_spark.queries import QUERIES, load_all

        load_all()
        self.spark, self.rec, self.files = spark, rec, files
        self.queries = QUERIES
        self.next = 0
        self.log: list[dict] = []

    def _pass(self, shard: str) -> dict:
        out = {}
        for i, name in enumerate(OPS):
            with self.rec.call(name, os.path.basename(shard), repeat=i > 0):
                with self.rec.phase("construct"):
                    df = self.queries[name](self.spark, shard)
                rows = df.collect()
                self.rec.executed(df)
            out[name] = [r.asDict() for r in rows]
        return out

    def setup(self) -> None:
        """Untimed warm-up: every operator on a small shard of its own."""
        self._pass(self.files["warm"])

    def round(self) -> None:
        shard = self.files["shards"][self.next]
        self.next += 1
        self.log.append({"shard": shard, "out": self._pass(shard)})

    def exhausted(self) -> bool:
        return self.next >= len(self.files["shards"])

    def install_tracing(self, tracer) -> None:
        pass

    def kernels(self) -> dict:
        from overturemaps_duckdb_spark.queries import ORACLES

        docs = pq.read_table(os.path.join(self.log[0]["shard"], "documents.parquet"))
        tokens = [w for t in docs.column("text").to_pylist() for w in _TOKEN.findall(t.lower())]
        return kernel_times(tokens, grid_points(docs.column("doc_id").to_numpy()),
                            [ORACLES[name] for name in OPS])

    # -- checks ---------------------------------------------------------------

    def check(self) -> list[str]:
        errors = []
        for entry in self.log:
            shard, out = entry["shard"], entry["out"]
            for name in OPS:
                try:
                    msg = getattr(self, "_" + name.split("_")[0])(shard, out[name])
                except Exception as exc:  # noqa: BLE001 — report, do not crash
                    msg = f"check raised {type(exc).__name__}: {exc}"
                if msg:
                    errors.append(f"{os.path.basename(shard)} {name}: {msg}")
        return errors

    @staticmethod
    def _docs(shard: str) -> dict:
        t = pq.read_table(os.path.join(shard, "documents.parquet"))
        return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))

    @staticmethod
    def _truth(shard: str) -> dict:
        with open(os.path.join(shard, "truth.json")) as f:
            return json.load(f)

    def _d1(self, shard, rows):
        ev = pq.read_table(os.path.join(shard, "events.parquet"))
        first: dict[str, int] = {}
        for i, text in zip(ev.column("event_id").to_pylist(), ev.column("props").to_pylist()):
            key = norm(text)
            first[key] = min(i, first.get(key, i))
        want = set(first.values())
        got = {r["event_id"] for r in rows}
        if got != want:
            return f"{len(got)} representatives, expected {len(want)}"
        for group in self._truth(shard)["exact_groups"]:
            if len(got & set(group)) != 1:
                return f"planted group {group[:3]} not collapsed to one"
        return None

    def _d2(self, shard, rows):
        docs = self._docs(shard)
        sh = {}

        def s(i):
            if i not in sh:
                sh[i] = shingles(docs[i])
            return sh[i]

        pairs = set()
        for r in rows:
            a, b = r["a_id"], r["b_id"]
            if jaccard(s(a), s(b)) < D2_THRESHOLD:
                return f"pair ({a}, {b}) below the Jaccard threshold"
            pairs.add((min(a, b), max(a, b)))
        # recall on planted near duplicates against the banding formula:
        # a pair with Jaccard j becomes a candidate with p = 1-(1-j^r)^b, so
        # the misses are a sum of Bernoulli(1-p); allow up to the count a
        # Poisson of the same mean exceeds with probability < 1e-4
        r_rows = D2_HASHES // D2_BANDS
        mu, n, misses = 0.0, 0, 0
        for a, b in self._truth(shard)["near_pairs"]:
            j = jaccard(s(a), s(b))
            if j < D2_THRESHOLD:
                continue
            n += 1
            mu += (1 - j**r_rows) ** D2_BANDS
            misses += (min(a, b), max(a, b)) not in pairs
        if not n:
            return "no planted near duplicates above the threshold"
        k, term = 0, math.exp(-mu)
        cdf = term
        while 1 - cdf >= 1e-4:
            k += 1
            term *= mu / k
            cdf += term
        if misses > k:
            return f"{misses} of {n} planted near duplicates missed; banding allows {k}"
        return None

    def _d3(self, shard, rows):
        docs = self._docs(shard)
        seen: dict[int, int] = {}
        for r in rows:
            ids = [int(x) for x in r["member_ids"].split(",")]
            if len(ids) != r["n_docs"]:
                return "n_docs disagrees with member_ids"
            for i in ids:
                seen[i] = r["simhash"]
        if len(seen) != len(docs) or set(seen) != set(docs):
            return "buckets do not partition the shard"
        for group in self._truth(shard)["exact_groups"]:
            if len({seen[i] for i in group}) != 1:
                return f"exact duplicates {group[:3]} in different buckets"
        return None

    def _x1(self, shard, rows):
        docs = self._docs(shard)
        if len(rows) != len(docs):
            return f"{len(rows)} rows for {len(docs)} documents"
        for r in rows:
            if r["n_tokens"] != len(_TOKEN.findall(docs[r["doc_id"]].lower())):
                return f"doc {r['doc_id']} token count {r['n_tokens']}"
        total = sum(len(_TOKEN.findall(t.lower())) for t in docs.values())
        if sum(r["n_tokens"] for r in rows) != total:
            return "token total differs"
        return None

    def _x2(self, shard, rows):
        docs = self._docs(shard)
        if sorted(r["doc_id"] for r in rows) != sorted(docs):
            return "rows do not cover the shard once each"
        if any(not 0.0 <= r["quality"] <= 1.0 for r in rows):
            return "quality outside [0, 1]"
        return None

    def _x7(self, shard, rows):
        docs = self._docs(shard)
        if sorted(r["id"] for r in rows) != sorted(docs):
            return "rows do not cover the shard once each"
        for r in rows:
            for k in ("dup_token_frac", "dup_2gram_frac", "dup_3gram_frac"):
                if not 0.0 <= r[k] <= 1.0:
                    return f"{k} outside [0, 1]"
        return None

    def _x9(self, shard, rows):
        docs = self._docs(shard)
        kept = sum(1 for r in rows if r["keep"])
        dropped = sum(1 for r in rows if not r["keep"])
        if kept + dropped != len(docs) or {r["id"] for r in rows} != set(docs):
            return f"kept {kept} + dropped {dropped} != {len(docs)}"
        for r in rows:
            n = len(_TOKEN.findall(docs[r["id"]].lower()))
            if r["n_words"] != n:
                return f"doc {r['id']} word count {r['n_words']} != {n}"
            if r["keep"] and not WC_MIN <= n <= WC_MAX:
                return f"doc {r['id']} kept with {n} words"
        return None

    def _t2(self, shard, rows):
        docs = self._docs(shard)
        matching = sum(1 for t in docs.values() if T2_WORDS & set(_TOKEN.findall(t.lower())))
        if len(rows) != min(10, matching):
            return f"{len(rows)} rows, expected {min(10, matching)}"
        for r in rows:
            if not T2_WORDS & set(_TOKEN.findall(docs[r["doc_id"]].lower())):
                return f"doc {r['doc_id']} has no query stem"
        scores = [r["_score"] for r in rows]
        if any(a < b for a, b in zip(scores, scores[1:])):
            return "scores increase"
        return None

    def _n1(self, shard, rows):
        emb = pq.read_table(os.path.join(shard, "embeddings.parquet"))
        ids = np.array(emb.column("vec_id").to_pylist())
        v = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        for q in range(5):
            cos = np.round(v @ v[ids == q][0], 6)
            order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:10]
            got = sorted((r for r in rows if r["query_id"] == q), key=lambda r: r["rank"])
            want_scores = [cos[i] for i in order]
            if [round(r["cosine"], 6) for r in got] != want_scores:
                # ranks must agree up to float noise in the sixth decimal
                if any(abs(r["cosine"] - w) > 2e-6 for r, w in zip(got, want_scores)) \
                        or len(got) != 10:
                    return f"query {q} top-10 differs"
        return None
