"""Deduplication inventory (LLM-pipeline extension surface): exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding near-dup.

Every variant is value-checked: the engine-portable md5-prefix hash makes
even MinHash signatures and SimHash bits bit-identical between Spark and the
DuckDB oracle."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from overturemaps_duckdb_spark.operators.dedup import (
    canonical_per_cluster,
    cross_corpus_minhash_pairs,
    dedup_clusters,
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_buckets,
)
from overturemaps_duckdb_spark.operators.textprep import ngram_decontaminate
from overturemaps_duckdb_spark.queries import query, t
from overturemaps_duckdb_spark.queries._sql import (
    char_ngrams_sql,
    md5_long_sql,
    norm_sql,
    token_ngrams_sql,
    tokens_sql,
)

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


@query(
    "d1_exact_dedup",
    oracle=f"""
    SELECT event_id, props FROM events
    WHERE event_id IN (
        SELECT min(event_id) FROM events GROUP BY {norm_sql('props')}
    )
    """,
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: lowest-id representative per normalized text.  Runs on
    `events.props` (heavily duplicated payloads); the shuffle key is the
    60-bit content hash, never the text itself."""
    ev = t(spark, sf_dir, "events").select("event_id", "props")
    return exact_dedup(ev, "event_id", "props")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_oracle(n_hashes: int = 16, bands: int = 4, k: int = 5) -> str:
    from overturemaps_duckdb_spark.functions.text import MINHASH_P, minhash_coeffs
    from overturemaps_duckdb_spark.operators.dedup import _sig_gate_k
    from overturemaps_duckdb_spark.queries._sql import (
        char_codes_sql,
        norm_sql,
        poly_shingles_from_codes_sql,
    )

    a_list, b_list = minhash_coeffs(n_hashes)
    seeds = ", ".join(
        f"({i}, {a_list[i]}, {b_list[i]})" for i in range(n_hashes)
    )
    # signature-agreement pre-verify gate — same constant as the Spark
    # operator's default (operators/dedup._sig_gate_k): candidates whose
    # MinHash estimate sits below threshold − 1/16 are dropped pre-verify
    gate_k = _sig_gate_k(0.5, 0.0625, n_hashes, bands)
    gate = (
        f"AND len(list_filter(range(1, {n_hashes + 1}), i -> "
        f"sa.sig[CAST(i AS INTEGER)] = sb.sig[CAST(i AS INTEGER)])) >= {gate_k}"
    )
    # DuckDB 1.0 inlines a non-MATERIALIZED CTE at every reference, and
    # docs/mins/bands/sigs are each read two or three times: materialized,
    # d2's oracle runs in ~4 s at sf0.01 on a 4-core host instead of ~8 s
    return f"""
WITH codes AS (
    SELECT doc_id AS id, {char_codes_sql('text')} AS c,
           length({norm_sql('text')}) AS len FROM documents
),
docs AS MATERIALIZED (
    SELECT id, {poly_shingles_from_codes_sql('c', 'len', k)} AS shingles
    FROM codes
),
mins AS MATERIALIZED (
    SELECT d.id, s.seed,
           list_min(list_transform(d.shingles,
               h -> (h * s.a + s.b) % {MINHASH_P})) AS mv
    FROM docs d, (VALUES {seeds}) s(seed, a, b)
),
bands AS MATERIALIZED (
    SELECT id, seed // {n_hashes // bands} AS band,
           md5(string_agg(CAST(mv AS VARCHAR), ',' ORDER BY seed)) AS bhash
    FROM mins GROUP BY id, seed // {n_hashes // bands}
),
sigs AS MATERIALIZED (
    SELECT id, list(mv ORDER BY seed) AS sig FROM mins GROUP BY id
),
cand AS (
    SELECT DISTINCT l.id AS a_id, r.id AS b_id
    FROM bands l JOIN bands r ON l.band = r.band AND l.bhash = r.bhash AND l.id < r.id
    JOIN sigs sa ON sa.id = l.id
    JOIN sigs sb ON sb.id = r.id
    WHERE 1 = 1 {gate}
),
pairs AS (
    SELECT c.a_id, c.b_id,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / CAST(len(a.shingles) + len(b.shingles)
                      - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE), 6)
               AS jaccard
    FROM cand c
    JOIN docs a ON c.a_id = a.id
    JOIN docs b ON c.b_id = b.id
)
SELECT a_id, b_id, jaccard FROM pairs WHERE jaccard >= 0.5
"""


_MINHASH_ORACLE = _minhash_oracle()


def _cross_minhash_oracle(
    where_a: str, where_b: str, n_hashes: int = 16, bands: int = 4, k: int = 5
) -> str:
    """Two-sided twin of _minhash_oracle: independent shingle/minhash/band
    CTEs per side, candidates from the band equi-join ACROSS sides."""
    from overturemaps_duckdb_spark.functions.text import MINHASH_P, minhash_coeffs
    from overturemaps_duckdb_spark.queries._sql import (
        char_codes_sql,
        norm_sql,
        poly_shingles_from_codes_sql,
    )

    from overturemaps_duckdb_spark.operators.dedup import _sig_gate_k

    a_list, b_list = minhash_coeffs(n_hashes)
    seeds = ", ".join(f"({i}, {a_list[i]}, {b_list[i]})" for i in range(n_hashes))
    rows = n_hashes // bands
    gate_k = _sig_gate_k(0.5, 0.0625, n_hashes, bands)
    gate = (
        f"AND len(list_filter(range(1, {n_hashes + 1}), i -> "
        f"sa.sig[CAST(i AS INTEGER)] = sb.sig[CAST(i AS INTEGER)])) >= {gate_k}"
    )

    def side(tag: str, where: str) -> str:
        return f"""
codes_{tag} AS (
    SELECT doc_id AS id, {char_codes_sql('text')} AS c,
           length({norm_sql('text')}) AS len FROM documents WHERE {where}
),
docs_{tag} AS (
    SELECT id, {poly_shingles_from_codes_sql('c', 'len', k)} AS shingles
    FROM codes_{tag}
),
mins_{tag} AS (
    SELECT d.id, s.seed,
           list_min(list_transform(d.shingles,
               h -> (h * s.a + s.b) % {MINHASH_P})) AS mv
    FROM docs_{tag} d, (VALUES {seeds}) s(seed, a, b)
),
bands_{tag} AS (
    SELECT id, seed // {rows} AS band,
           md5(string_agg(CAST(mv AS VARCHAR), ',' ORDER BY seed)) AS bhash
    FROM mins_{tag} GROUP BY id, seed // {rows}
),
sigs_{tag} AS (
    SELECT id, list(mv ORDER BY seed) AS sig FROM mins_{tag} GROUP BY id
)"""

    return f"""
WITH {side('a', where_a)},
{side('b', where_b)},
cand AS (
    SELECT DISTINCT l.id AS a_id, r.id AS b_id
    FROM bands_a l JOIN bands_b r ON l.band = r.band AND l.bhash = r.bhash
    JOIN sigs_a sa ON sa.id = l.id
    JOIN sigs_b sb ON sb.id = r.id
    WHERE 1 = 1 {gate}
),
pairs AS (
    SELECT c.a_id, c.b_id,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / CAST(len(a.shingles) + len(b.shingles)
                      - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE), 6)
               AS jaccard
    FROM cand c
    JOIN docs_a a ON c.a_id = a.id
    JOIN docs_b b ON c.b_id = b.id
)
SELECT a_id, b_id, jaccard FROM pairs WHERE jaccard >= 0.5
"""


@query("d2_minhash_lsh_pairs", oracle=_MINHASH_ORACLE)
def d2_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 hashes)+LSH(4 bands) near-dup candidate pairs, verified
    with exact shingle Jaccard ≥ 0.5.  Signatures are pure array expressions
    (no explode); only (band, band_hash, id) shuffles."""
    d = t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, "doc_id", "text", n_hashes=16, bands=4, shingle_k=5, jaccard_threshold=0.5
    )


#: train/probe split for d8 — every 5th doc plays the held-out benchmark
_D8_WHERE_A = "doc_id % 5 <> 0"
_D8_WHERE_B = "doc_id % 5 = 0"


@query("d8_cross_corpus_neardup", oracle=_cross_minhash_oracle(_D8_WHERE_A, _D8_WHERE_B))
def d8_cross_corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A×B decontamination: training-corpus docs that near-match a held-out
    probe corpus (MinHash banding on both sides, ONE band-key equi-join, no
    broadcast of either side, exact Jaccard ≥ 0.5 verify) — the scale path
    when the benchmark set is too large for textprep.ngram_decontaminate's
    broadcast n-grams (operators/dedup.cross_corpus_minhash_pairs)."""
    d = t(spark, sf_dir, "documents")
    corpus = d.where(F.expr(_D8_WHERE_A))
    probe = d.where(F.expr(_D8_WHERE_B))
    return cross_corpus_minhash_pairs(
        corpus, probe, "doc_id", "text",
        n_hashes=16, bands=4, shingle_k=5, jaccard_threshold=0.5,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_ORACLE = f"""
WITH docs AS (
    SELECT doc_id AS id,
           list_transform(list_distinct({tokens_sql('text')}),
                          x -> {md5_long_sql('x')}) AS hashes
    FROM documents
),
bits AS (
    SELECT d.id, b.bit,
           len(list_filter(d.hashes, h -> (h >> CAST(b.bit AS INTEGER)) & 1 = 1)) AS ones,
           len(d.hashes) AS n
    FROM docs d, range(0, 16) b(bit)
),
sims AS (
    SELECT id,
           CAST(SUM(CASE WHEN ones * 2 > n THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT)
               AS simhash
    FROM bits GROUP BY id
)
SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY CAST(id AS VARCHAR)) AS member_ids
FROM sims GROUP BY simhash
"""


@query("d3_simhash_buckets", oracle=_SIMHASH_ORACLE)
def d3_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash buckets (hamming-0 tier): one integer per doc, grouped —
    dedup becomes a plain aggregation on an int key."""
    d = t(spark, sf_dir, "documents")
    return simhash_dedup_buckets(d, "doc_id", "text", bits=16)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact)
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH docs AS (
    SELECT doc_id AS id, list_distinct({char_ngrams_sql('text', 5)}) AS shingles
    FROM documents WHERE doc_id < 500
),
sh AS (SELECT id, unnest(shingles) AS s FROM docs),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY id),
inter AS (
    SELECT a.id AS a_id, b.id AS b_id, CAST(count(*) AS BIGINT) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
    GROUP BY a.id, b.id
)
SELECT i.a_id, i.b_id,
       ROUND(CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c), 6) AS jaccard
FROM inter i
JOIN sizes na ON i.a_id = na.id
JOIN sizes nb ON i.b_id = nb.id
WHERE ROUND(CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c), 6) >= 0.4
"""


@query("d4_ngram_jaccard_pairs", oracle=_JACCARD_ORACLE)
def d4_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard pairs ≥ 0.4 via the inverted-index pair join.
    Input capped to doc_id < 500 at every SF: the exact pair join is the
    verification tier — at scale candidates come from LSH banding first."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return ngram_jaccard_pairs(d, "doc_id", "text", shingle_k=5, threshold=0.4)


# ---------------------------------------------------------------------------
# n-gram containment (asymmetric)
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = f"""
WITH docs AS (
    SELECT doc_id AS id, list_distinct({char_ngrams_sql('text', 5)}) AS shingles
    FROM documents WHERE doc_id < 500
),
sh AS (SELECT id, unnest(shingles) AS s FROM docs),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY id),
inter AS (
    SELECT a.id AS a_id, b.id AS b_id, CAST(count(*) AS BIGINT) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
    GROUP BY a.id, b.id
)
SELECT i.a_id, i.b_id,
       ROUND(CAST(i.c AS DOUBLE) / least(na.n, nb.n), 6) AS containment,
       CASE WHEN na.n < nb.n THEN i.a_id
            WHEN nb.n < na.n THEN i.b_id
            ELSE least(i.a_id, i.b_id) END AS contained_id
FROM inter i
JOIN sizes na ON i.a_id = na.id
JOIN sizes nb ON i.b_id = nb.id
WHERE ROUND(CAST(i.c AS DOUBLE) / least(na.n, nb.n), 6) >= 0.6
"""


@query("ct1_containment_pairs", oracle=_CONTAINMENT_ORACLE)
def ct1_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs ≥ 0.6
    (operators/dedup.ngram_containment_pairs): |A∩B|/min(|A|,|B|) — the
    quote/subset detector Jaccard misses when document sizes diverge;
    contained_id names the mostly-inside side.  Same verification-tier
    doc_id < 500 cap as d4: at scale candidates come from LSH banding."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return ngram_containment_pairs(
        d, "doc_id", "text", shingle_k=5, threshold=0.6
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

_EMB_DOT = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INTEGER)] AS DOUBLE)))"
)
_EMB_NORM_A = (
    "sqrt(list_sum(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE))))"
)
_EMB_NORM_B = (
    "sqrt(list_sum(list_transform(range(1, 65), "
    "i -> CAST(b.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INTEGER)] AS DOUBLE))))"
)

def _banded_bucket_union_sql(
    n_bands: int = 8, planes_per_band: int = 4, dim: int = 64
) -> str:
    """SQL twin of operators.similarity.banded_signature_frame: one SELECT
    per band, bucket folded MSB-first from the band's plane sign bits, with
    the deterministic integer plane weights (zero-weight dims skipped —
    float-identical, adding a 0.0 term never changes a finite sum)."""
    from overturemaps_duckdb_spark.operators.similarity import _plane_weight

    selects = []
    for b in range(n_bands):
        bits = []
        for j in range(planes_per_band):
            p = b * planes_per_band + j
            terms = [
                f"CAST(e.embedding[{i + 1}] AS DOUBLE) * {float(w)}"
                for i, w in ((i, _plane_weight(p, i)) for i in range(dim))
                if w != 0
            ]
            dot = " + ".join(terms)
            bit_val = 1 << (planes_per_band - 1 - j)
            bits.append(f"(CASE WHEN 0.0 + {dot} >= 0.0 THEN {bit_val} ELSE 0 END)")
        bucket = " + ".join(bits)
        selects.append(
            f"SELECT e.vec_id AS id, {b} AS band, "
            f"CAST({bucket} AS BIGINT) AS bucket FROM embeddings e"
        )
    return "\nUNION ALL\n".join(selects)


_D5_THRESHOLD = 0.35

_EMB_NEARDUP_ORACLE = f"""
WITH bk AS (
{_banded_bucket_union_sql()}
),
cand AS (
    SELECT DISTINCT l.id AS a_id, r.id AS b_id
    FROM bk l JOIN bk r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
)
SELECT c.a_id, c.b_id,
       ROUND({_EMB_DOT} / ({_EMB_NORM_A} * {_EMB_NORM_B}), 6) AS cosine
FROM cand c
JOIN embeddings a ON a.vec_id = c.a_id
JOIN embeddings b ON b.vec_id = c.b_id
WHERE ROUND({_EMB_DOT} / ({_EMB_NORM_A} * {_EMB_NORM_B}), 6) >= {_D5_THRESHOLD}
"""


@query("d5_embedding_neardup", oracle=_EMB_NEARDUP_ORACLE)
def d5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded hyperplane LSH + exact
    cosine verify — candidate generation is a (band, bucket) equi-join, no
    full-corpus broadcast, no N² evaluation.  The oracle replicates the
    banded candidate generation exactly (bucket arithmetic restated per
    band), so the value-hash certification is non-vacuous: the synthetic
    near-orthogonal corpus has no pairs at a production-style 0.8
    threshold (r1/r2 certified this query on 0 = 0 rows), while 0.35
    yields real pairs at every SF.  Recall vs brute force on planted
    near-dups is separately pytest-asserted (tests/test_similarity_ivf.py)."""
    e = t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        e, "vec_id", "embedding", threshold=_D5_THRESHOLD
    )


# ---------------------------------------------------------------------------
# connected-components cluster assignment
# ---------------------------------------------------------------------------

# the d2 pair CTEs, re-terminated into a recursive reachability closure:
# cluster_id = min doc id reachable through the near-dup pair graph.
# `edges` is read by every recursive step and `dpairs` twice, so both are
# MATERIALIZED like the shared MinHash CTEs (see _minhash_oracle); inlined,
# this oracle took ~35 s at sf0.01 on a 4-core host, materialized ~4 s.
_CLUSTER_ORACLE = (
    _MINHASH_ORACLE.rsplit(
        "SELECT a_id, b_id, jaccard FROM pairs WHERE jaccard >= 0.5", 1
    )[0].replace("WITH codes", "WITH RECURSIVE codes", 1)
    + """
, dpairs AS MATERIALIZED (
    SELECT a_id AS u, b_id AS v FROM pairs WHERE jaccard >= 0.5
),
edges AS MATERIALIZED (SELECT u, v FROM dpairs UNION ALL SELECT v, u FROM dpairs),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT re.id, e.v FROM reach re JOIN edges e ON e.u = re.r
)
SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
"""
)


@query("d6_dedup_clusters", oracle=_CLUSTER_ORACLE)
def d6_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the d2 near-dup pairs: every document gets
    a cluster_id (= min reachable doc id; singletons map to themselves) —
    the keep/drop assignment artifact of a dedup pipeline.  Min-label
    propagation, one edge-endpoint shuffle per round, lineage cut per round
    (operators/dedup.dedup_clusters); the oracle is the equivalent DuckDB
    recursive-CTE reachability closure."""
    d = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n_hashes=16, bands=4, shingle_k=5, jaccard_threshold=0.5
    )
    return dedup_clusters(d, "doc_id", pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


# ---------------------------------------------------------------------------
# canonical selection per cluster
# ---------------------------------------------------------------------------

# the d6 closure, re-terminated into the keep/drop selection: per cluster,
# keep the longest member (ties → smallest doc_id) and record the size
_CANONICAL_TAIL = """, assign AS (
    SELECT id, CAST(MIN(r) AS BIGINT) AS cluster_id FROM reach GROUP BY id
),
ranked AS (
    SELECT a.cluster_id, a.id, d.n_chars,
           row_number() OVER (PARTITION BY a.cluster_id
                              ORDER BY d.n_chars DESC, a.id ASC) AS rn,
           count(*) OVER (PARTITION BY a.cluster_id) AS n_members
    FROM assign a JOIN documents d ON d.doc_id = a.id
)
SELECT cluster_id, id AS keep_id, CAST(n_chars AS BIGINT) AS keep_quality,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""

_D6_TAIL = """
SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
"""
assert _CLUSTER_ORACLE.endswith(_D6_TAIL), "d6 oracle tail drifted"
_CANONICAL_ORACLE = _CLUSTER_ORACLE[: -len(_D6_TAIL)] + _CANONICAL_TAIL


@query("d7_cluster_canonical", oracle=_CANONICAL_ORACLE)
def d7_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: for each d6 near-dup cluster, keep the
    highest-quality member (n_chars as the quality key, ties → smallest id)
    and record the cluster size — the keep/drop artifact the corpus-write
    stage consumes.  Distributed argmax: one cluster_id shuffle shared by the
    quality join and the window rank (operators/dedup.canonical_per_cluster)."""
    d = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n_hashes=16, bands=4, shingle_k=5, jaccard_threshold=0.5
    )
    clusters = dedup_clusters(d, "doc_id", pairs)
    return canonical_per_cluster(d, "doc_id", clusters, "n_chars")


# ---------------------------------------------------------------------------
# leakage-safe train/eval split (cluster-keyed)
# ---------------------------------------------------------------------------

_SP1_EVAL_PM = 200

_SPLIT_TAIL = f""", assign AS (
    SELECT id, CAST(MIN(r) AS BIGINT) AS cluster_id FROM reach GROUP BY id
)
SELECT id AS doc_id, cluster_id,
       CASE WHEN {md5_long_sql("CAST(cluster_id AS VARCHAR)")} % 1000
                 < {_SP1_EVAL_PM}
            THEN 'eval' ELSE 'train' END AS split
FROM assign
"""

_SPLIT_ORACLE = _CLUSTER_ORACLE[: -len(_D6_TAIL)] + _SPLIT_TAIL


@query("sp1_leakage_safe_split", oracle=_SPLIT_ORACLE)
def sp1_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split (operators/sampling.
    leakage_safe_split): the split unit is the d6 near-dup CLUSTER, so a
    document and its near-duplicates always land on the same side — the
    eval-contamination guard a curation pipeline runs before publishing
    a held-out set.  split = md5(cluster_id) bucket < 200‰ → 'eval'
    (deterministic, retry-stable, engine-portable; the md5-threshold
    convention of every sampler here).  Composes two certified pieces —
    the d6 connected-components closure and the sa1 hash bucket — into
    the pipeline artifact; one id-key join, no new shuffle class."""
    d = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n_hashes=16, bands=4, shingle_k=5,
        jaccard_threshold=0.5,
    )
    clusters = dedup_clusters(d, "doc_id", pairs)
    from overturemaps_duckdb_spark.operators.sampling import (
        leakage_safe_split,
    )

    return leakage_safe_split(
        d.select("doc_id"), "doc_id", clusters, eval_permille=_SP1_EVAL_PM
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

_DECONTAM_N = 8

_DECONTAM_ORACLE = f"""
WITH tk AS (SELECT doc_id, {tokens_sql('text')} AS tk FROM documents),
bg AS (
    SELECT DISTINCT unnest({token_ngrams_sql('tk', _DECONTAM_N)}) AS gram
    FROM tk WHERE doc_id % 7 = 0
),
tg AS (
    SELECT doc_id, unnest(list_distinct({token_ngrams_sql('tk', _DECONTAM_N)})) AS gram
    FROM tk WHERE doc_id % 7 <> 0
)
SELECT tg.doc_id AS id, CAST(count(*) AS BIGINT) AS n_hit_grams
FROM tg JOIN bg ON tg.gram = bg.gram AND tg.gram <> ''
GROUP BY tg.doc_id
"""


@query("dc1_decontaminate", oracle=_DECONTAM_ORACLE)
def dc1_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 7 ≠ 0) sharing a
    verbatim 8-token gram with the held-out benchmark split (doc_id % 7 =
    0) — the GPT-3/Llama n-gram collision test as a first-class operator.

    Scale shape (operators/textprep.ngram_decontaminate): the benchmark's
    distinct grams broadcast (eval sets stay small no matter how big the
    corpus is), the corpus explodes grams map-side and inner-joins without
    shuffling, and only hit rows reach the groupBy."""
    d = t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 7 == 0)
    train = d.where(F.col("doc_id") % 7 != 0)
    return ngram_decontaminate(train, bench, "doc_id", "text", n=_DECONTAM_N)


_CT2_ORACLE = f"""
WITH tk AS (SELECT doc_id, {tokens_sql('text')} AS tk FROM documents),
bg AS (
    SELECT b_id, {md5_long_sql('gram')} AS h FROM (
        SELECT doc_id AS b_id,
               unnest(list_distinct({token_ngrams_sql('tk', _DECONTAM_N)})) AS gram
        FROM tk WHERE doc_id % 7 = 0
    ) WHERE gram <> ''
),
nb AS (SELECT b_id, CAST(count(*) AS BIGINT) AS nb FROM bg GROUP BY b_id),
tg AS (
    SELECT a_id, {md5_long_sql('gram')} AS h FROM (
        SELECT doc_id AS a_id,
               unnest(list_distinct({token_ngrams_sql('tk', _DECONTAM_N)})) AS gram
        FROM tk WHERE doc_id % 7 <> 0
    ) WHERE gram <> ''
),
hits AS (
    SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS c
    FROM tg JOIN bg USING (h) GROUP BY a_id, b_id
)
SELECT a_id, b_id,
       ROUND(CAST(c AS DOUBLE) / nb, 6) AS containment,
       c AS n_shared
FROM hits JOIN nb USING (b_id)
WHERE ROUND(CAST(c AS DOUBLE) / nb, 6) >= 0.5
"""


@query("ct2_cross_corpus_containment", oracle=_CT2_ORACLE)
def ct2_cross_corpus_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair contamination attribution
    (operators/textprep.cross_corpus_containment): fraction of each
    benchmark doc's (doc_id % 7 = 0, the dc1 split) distinct 8-token
    grams verbatim inside each training doc — WHICH eval item leaked and
    HOW MUCH of it, where dc1 only flags the train side.  Benchmark index
    broadcasts with per-doc set sizes; corpus grams hash to 60-bit keys
    map-side (text never shuffles); deliberately NOT the d8 MinHash path
    (jaccard banding structurally misses containment pairs)."""
    from overturemaps_duckdb_spark.operators.textprep import (
        cross_corpus_containment,
    )

    d = t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 7 == 0)
    train = d.where(F.col("doc_id") % 7 != 0)
    return cross_corpus_containment(
        train, bench, "doc_id", "text", n=_DECONTAM_N, threshold=0.5
    )


# ---------------------------------------------------------------------------
# line-level corpus dedup (C4 / RefinedWeb boilerplate pass)
# ---------------------------------------------------------------------------

_LD1_ORACLE = """
WITH staged AS (
    SELECT doc_id,
           concat_ws(chr(10),
                     'source: ' || source,
                     'doc: ' || CAST(doc_id AS VARCHAR),
                     text,
                     'footer: corpus snapshot under open licence') AS text
    FROM documents
),
ln AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM staged),
hot AS (
    SELECT COALESCE(list(line), []) AS hot FROM (
        SELECT line FROM (SELECT doc_id, unnest(ls) AS line FROM ln)
        GROUP BY line HAVING count(DISTINCT doc_id) >= 3
    )
)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS clean_text,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(n_total - len(kept) AS BIGINT) AS n_dropped
FROM (
    SELECT ln.doc_id AS doc_id, len(ls) AS n_total,
           list_filter(ls, x -> NOT list_contains(h.hot, x)) AS kept
    FROM ln CROSS JOIN hot h
)
"""


@query("ld1_line_dedup", oracle=_LD1_ORACLE)
def ld1_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level corpus dedup (C4 drops any line repeated ≥3× in the
    corpus; RefinedWeb's boilerplate pass is the same idea): lines present
    in ≥3 distinct documents are removed from every document, the rest
    survive in original order.

    The fixture's documents are single-line, so the query stages the exact
    workload this operator exists for: each doc wrapped in a per-source
    header + unique id line + corpus-wide footer (the oracle stages
    identically).  Header/footer lines are shared by ≥25 docs → dropped;
    the id line is unique → kept; body lines survive untouched.  Scale
    shape in operators/textprep.line_corpus_dedup: full texts never
    shuffle — an 8-byte-hash count agg, a hit-only regroup, and a map-side
    array filter."""
    from overturemaps_duckdb_spark.operators.textprep import line_corpus_dedup

    d = t(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("source: "), F.col("source")),
            F.concat(F.lit("doc: "), F.col("doc_id").cast("string")),
            F.col("text"),
            F.lit("footer: corpus snapshot under open licence"),
        ).alias("text"),
    )
    return line_corpus_dedup(staged, "doc_id", "text", min_docs=3)


@query(
    "d9_dup_rate_report",
    oracle=f"""
    WITH g AS (
        SELECT source, {norm_sql('text')} AS t, count(*) AS n
        FROM documents GROUP BY source, {norm_sql('text')}
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(n) - count(*) AS BIGINT) AS n_dup_docs,
           ROUND((CAST(sum(n) AS DOUBLE) - count(*)) / sum(n), 6) AS dup_rate,
           CAST(max(n) AS BIGINT) AS max_group
    FROM g GROUP BY source
    """,
)
def d9_dup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication telemetry (operators/dedup.
    dup_rate_report): the corpus-health numbers a dedup stage reports —
    and the gate deciding whether a source needs the expensive near-dup
    pass at all.  Two map-side-combinable shuffles on small keys; the
    shuffle never carries document text (64-bit content hashes stand in
    for the normalized text, which the oracle groups by directly)."""
    from overturemaps_duckdb_spark.operators.dedup import dup_rate_report

    d = t(spark, sf_dir, "documents")
    return dup_rate_report(d, "doc_id", "text", "source")


@query(
    "cd1_corpus_diff",
    oracle=f"""
    WITH o AS (
        SELECT doc_id AS id, {norm_sql('text')} AS t
        FROM documents WHERE doc_id % 10 <> 0
    ), n AS (
        SELECT doc_id AS id,
               CASE WHEN doc_id % 5 = 0
                    THEN {norm_sql("(text || ' revision 2')")}
                    ELSE {norm_sql('text')} END AS t
        FROM documents WHERE doc_id % 7 <> 0
    )
    SELECT COALESCE(o.id, n.id) AS id,
           CASE WHEN o.id IS NULL THEN 'added'
                WHEN n.id IS NULL THEN 'removed'
                WHEN o.t IS NOT DISTINCT FROM n.t THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM o FULL OUTER JOIN n ON o.id = n.id
    """,
)
def cd1_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two simulated crawls of the corpus
    (operators/dedup.corpus_diff): the old crawl misses every 10th doc,
    the new crawl misses every 7th and revises every 5th — the diff
    manifest labels every id added/removed/changed/unchanged so an
    incremental pipeline touches only the delta.  Each side reduces to
    (id, 64-bit content hash) at scan; the full-outer join shuffles 16
    bytes per row, never text."""
    from overturemaps_duckdb_spark.operators.dedup import corpus_diff

    d = t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 10 != 0)
    new = d.where(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" revision 2")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return corpus_diff(old, new, "doc_id", "text")


@query(
    "fz1_fuzzy_pairs",
    oracle="""
    WITH s AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
    v AS (
        SELECT id, nm AS v FROM s
        UNION
        SELECT id,
               substr(nm, 1, CAST(i AS INTEGER) - 1)
               || substr(nm, CAST(i AS INTEGER) + 1, length(nm)) AS v
        FROM (SELECT id, nm,
                     unnest(generate_series(1, length(nm))) AS i
              FROM s)
    ),
    cand AS (
        SELECT DISTINCT a.id AS a_id, b.id AS b_id
        FROM v a JOIN v b ON a.v = b.v AND a.id < b.id
    )
    SELECT c.a_id, c.b_id, CAST(levenshtein(sa.nm, sb.nm) AS INT) AS dist
    FROM cand c
    JOIN s sa ON sa.id = c.a_id
    JOIN s sb ON sb.id = c.b_id
    WHERE levenshtein(sa.nm, sb.nm) <= 1
    """,
)
def fz1_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage over customer names (operators/dedup.
    fuzzy_pairs): every pair within Levenshtein distance 1, found via
    SymSpell deletion-neighborhood blocking — an equi-join on the
    {self} ∪ {single-deletion} variant strings replaces the O(N²) cross
    product, candidates dedupe on bare id pairs before the name-carrying
    join-back, and the exact edit-distance verify runs once per distinct
    pair.  The oracle restates the identical blocking + verify in SQL."""
    from overturemaps_duckdb_spark.operators.dedup import fuzzy_pairs

    c = t(spark, sf_dir, "customer")
    return fuzzy_pairs(c, "c_custkey", "c_name", max_dist=1).select(
        "a_id", "b_id", F.col("dist").cast("int").alias("dist")
    )


_DC2_ORACLE = f"""
WITH tk AS (
    SELECT doc_id, text, {{tok}} AS tk FROM documents WHERE doc_id % 7 <> 0
),
btk AS (SELECT {{tok}} AS tk FROM documents WHERE doc_id % 7 = 0),
bg AS (
    SELECT DISTINCT array_to_string(list_slice(tk, CAST(i AS INTEGER),
                                               CAST(i + 7 AS INTEGER)), ' ') AS gram
    FROM btk, UNNEST(range(1, greatest(len(tk) - 7, 0) + 1)) AS u(i)
    WHERE len(tk) >= 8
),
g AS (
    SELECT doc_id, CAST(i AS INTEGER) AS pos,
           array_to_string(list_slice(tk, CAST(i AS INTEGER),
                                      CAST(i + 7 AS INTEGER)), ' ') AS gram
    FROM tk, UNNEST(range(1, greatest(len(tk) - 7, 0) + 1)) AS u(i)
    WHERE len(tk) >= 8
),
spans AS (
    SELECT doc_id, list_sort(list(DISTINCT pos)) AS hs
    FROM g JOIN bg USING (gram) GROUP BY doc_id
),
k AS (
    SELECT tk.doc_id, tk.text, tk.tk,
           list_filter(tk.tk, (x, i) -> len(list_filter(
               coalesce(spans.hs, CAST([] AS INTEGER[])),
               s -> i >= s AND i < s + 8)) = 0) AS kept
    FROM tk LEFT JOIN spans ON tk.doc_id = spans.doc_id
)
SELECT doc_id,
       CASE WHEN text IS NOT NULL
            THEN coalesce(array_to_string(kept, ' '), '') END AS clean_text,
       CASE WHEN text IS NOT NULL
            THEN CAST(len(tk) AS BIGINT) END AS n_tokens,
       CASE WHEN text IS NOT NULL
            THEN CAST(len(tk) - len(kept) AS BIGINT) END AS n_removed
FROM k
""".format(tok=tokens_sql("text"))


@query("dc2_decontaminate_spans", oracle=_DC2_ORACLE)
def dc2_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical decontamination (operators/textprep.decontaminate_spans):
    every 8-token span of a training document (doc_id % 7 ≠ 0) that
    appears verbatim in the benchmark split (doc_id % 7 = 0) is REMOVED,
    the document's clean remainder kept — dc1's flag form upgraded to the
    mitigation pipelines actually apply.  The benchmark gram hashes
    broadcast; the corpus never shuffles for the matching."""
    from overturemaps_duckdb_spark.operators.textprep import (
        decontaminate_spans,
    )

    d = t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 7 == 0)
    train = d.where(F.col("doc_id") % 7 != 0)
    return decontaminate_spans(train, bench, "doc_id", "text", n=8)
