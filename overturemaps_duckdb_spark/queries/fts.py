"""Full-text-search inventory (SURVEY §2.10 T1-T5) on the `documents` table.

The BM25 oracle is pure SQL (DuckDB's fts extension is unavailable offline):
queries/_sql.bm25_sql states the identical Okapi formula the Spark operator
computes, so scores are value-checked, not just rank-checked."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from overturemaps_duckdb_spark.operators._util import cache_get, cache_put
from overturemaps_duckdb_spark.operators.fts import (
    FtsIndex,
    bm25_topk,
    build_fts_index,
    ilike_search,
    search_all_tables,
)
from overturemaps_duckdb_spark.queries import query, t
from overturemaps_duckdb_spark.queries._sql import (
    bm25_sql,
    bm25_stemmed_sql,
    porter_ctes,
    tokens_sql,
)

#: fixed benchmark query — words present in the fixture vocabulary
QUERY_TEXT = "table scan merge"
QUERY_TERMS = ["table", "scan", "merge"]
#: the same query through the index tokenizer (Porter is the DEFAULT
#: since r12, matching DuckDB create_fts_index defaults) — pinned equal
#: to tokenize_query(QUERY_TEXT, 'porter') by tests/test_stem.py
STEMMED_QUERY_TERMS = ["tabl", "scan", "merg"]

def fts_index_for(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    id_col: str,
    text_col: str,
    stemmer: str | None = "porter",
) -> FtsIndex:
    """Session-lifetime persisted index over one fixture table —
    `PRAGMA create_fts_index` materializes helper tables once and every
    later query reads them (fts.js:51-68).  Held in the session registry's
    ``fts_index`` slot (operators/_util), which unpersists the least
    recently used index past its bound."""
    import os

    # realpath key (like the e4 sizing memo): the same fixture addressed
    # via './sf0.01' vs its absolute path vs a symlink used to build and
    # persist a SECOND full inverted index in executor storage.  The
    # stemmer is part of the key — a porter index and an unstemmed index
    # over the same table are different indexes (different term columns).
    key = (os.path.realpath(sf_dir), table, stemmer)
    idx = cache_get(spark, "fts_index", key)
    if idx is None:
        idx = build_fts_index(
            t(spark, sf_dir, table), id_col, text_col, stemmer=stemmer
        ).persist()
        cache_put(spark, "fts_index", key, idx)
    return idx


_T1_FRAG, _T1_FINAL = porter_ctes("u", "t", ["id"], pfx="ps")


@query(
    "t1_fts_index_build",
    oracle=f"""
    WITH toks AS (SELECT doc_id AS id, {tokens_sql('text')} AS tk FROM documents),
    u AS (SELECT id, unnest(tk) AS t FROM toks){_T1_FRAG}
    SELECT stem AS term, id, CAST(count(*) AS BIGINT) AS tf
    FROM {_T1_FINAL} GROUP BY stem, id
    """,
)
def t1_fts_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — the materialized inverted index (term, id, tf); the Spark twin of
    `PRAGMA create_fts_index` (fts.js:51-68).  Terms are Porter stems —
    the build DEFAULT since r12, matching DuckDB's create_fts_index
    defaults the reference relies on; the oracle replays the same Porter
    1980 rules as a generated SQL chain before the tf aggregate."""
    d = t(spark, sf_dir, "documents")
    # cache_tokens=False: only the postings tree executes here, so the
    # build's tokenization persist would pin storage once per invocation
    # for zero reuse (r10 review)
    return build_fts_index(
        d, "doc_id", "text", cache_tokens=False
    ).postings.select("term", "id", "tf")


@query(
    "t2_bm25_topk",
    oracle=bm25_stemmed_sql(
        table="documents", id_col="doc_id", text_col="text",
        stemmed_terms=STEMMED_QUERY_TERMS,
    )
    + """
    SELECT d.doc_id, ROUND(s._score, 6) AS _score
    FROM documents d JOIN scores s ON d.doc_id = s.id
    ORDER BY ROUND(s._score, 6) DESC, d.doc_id
    LIMIT 10
    """,
)
def t2_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — BM25 match+score, `ORDER BY _score DESC LIMIT k` (fts.js:85-91).
    Reads the session's materialized index (fts_index_for), as the reference
    reads its PRAGMA-built helper tables.  Stemmed by DEFAULT since r12
    (the reference's DuckDB index is) — on this fixture the 31-word
    vocabulary stems injectively, so scores equal the historic unstemmed
    rows; the oracle states the stemmed pipeline explicitly."""
    d = t(spark, sf_dir, "documents")
    idx = fts_index_for(spark, sf_dir, "documents", "doc_id", "text")
    return bm25_topk(idx, d, "doc_id", QUERY_TEXT, limit=10).select("doc_id", "_score")


#: t6 fixed query — every term INFLECTED relative to the fixture
#: vocabulary ("table scan merge query" are the corpus tokens), so a
#: raw-token index scores NOTHING for it and the (default) porter index
#: ranks normally — the exact divergence SURVEY §7 risk 2 documented.
STEM_QUERY_TEXT = "tables scanning merged queries"


def _stemmed_query_terms() -> list[str]:
    from overturemaps_duckdb_spark.operators.fts import tokenize_query

    return tokenize_query(STEM_QUERY_TEXT, stemmer="porter")


@query(
    "t6_bm25_stemmed",
    oracle=bm25_stemmed_sql(
        table="documents",
        id_col="doc_id",
        text_col="text",
        stemmed_terms=_stemmed_query_terms(),
    )
    + """
    SELECT d.doc_id, ROUND(s._score, 6) AS _score
    FROM documents d JOIN scores s ON d.doc_id = s.id
    ORDER BY ROUND(s._score, 6) DESC, d.doc_id
    LIMIT 10
    """,
)
def t6_bm25_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 — the INFLECTED-QUERY demonstration of the stemmed index (now
    the t2-shared default, matching DuckDB create_fts_index defaults,
    fts.js:51-68): every query term here is an inflection absent from the
    corpus vocabulary, so a raw-token index scores NOTHING while the
    porter index ranks normally — exactly the SURVEY §7 risk-2 divergence
    this closed.  Corpus tokens stem in an Arrow-batched kernel before
    the postings aggregate; the query stems driver-side with the same
    functions.stem kernel; the index cache entry is SHARED with t2.  The
    oracle restates Porter 1980 as a generated DuckDB CTE chain from the
    same rule tables (DuckDB's own stem() needs the offline-unavailable
    fts extension), so scores are value-certified end-to-end."""
    d = t(spark, sf_dir, "documents")
    idx = fts_index_for(
        spark, sf_dir, "documents", "doc_id", "text", stemmer="porter"
    )
    return bm25_topk(idx, d, "doc_id", STEM_QUERY_TEXT, limit=10).select(
        "doc_id", "_score"
    )


@query(
    "t2p_bm25_persisted",
    oracle=bm25_stemmed_sql(
        table="documents", id_col="doc_id", text_col="text",
        stemmed_terms=STEMMED_QUERY_TERMS,
    )
    + """
    SELECT d.doc_id, ROUND(s._score, 6) AS _score
    FROM documents d JOIN scores s ON d.doc_id = s.id
    ORDER BY ROUND(s._score, 6) DESC, d.doc_id
    LIMIT 10
    """,
)
def t2p_bm25_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2p — the PRODUCTION FTS profile as a first-class certified row
    (VERDICT r12 #5 / r13 #6): ingest-time ``write_fts_index`` stores the
    stemmed index as parquet tables (postings term-distributed and
    term-sorted within files, termstats materialized), then the exact t2
    query scores against the REOPENED store — the steady-state per-query
    path once the index is a table, vs t2's headline number which pays
    the inline build on first touch.  Same BM25 values by construction
    (df from the ingest-time termstats table equals the inline pruned
    count; the stemmer mode rides the stats table), so the oracle is t2's
    verbatim.  The staging write is per-(application, fixture) —
    recomputed from the parquet inputs in every fresh session, never a
    cross-run cache."""
    from overturemaps_duckdb_spark.operators._util import staging_root
    from overturemaps_duckdb_spark.operators.fts import (
        read_fts_index,
        write_fts_index,
    )

    d = t(spark, sf_dir, "documents")
    root = staging_root(spark, sf_dir, "t2pfts")
    write_fts_index(
        build_fts_index(d, "doc_id", "text", cache_tokens=False), root
    )
    stored = read_fts_index(spark, root)
    return bm25_topk(stored, d, "doc_id", QUERY_TEXT, limit=10).select(
        "doc_id", "_score"
    )


@query(
    "t3_ilike_fallback",
    oracle="""
    SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len
    FROM documents
    WHERE text ILIKE '%merge%'
    ORDER BY length(text) ASC, doc_id ASC
    LIMIT 10
    """,
)
def t3_ilike_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — graceful degradation: ILIKE substring search ranked by
    `length(text) ASC` (most specific first), fts.js:104-108."""
    d = t(spark, sf_dir, "documents")
    return ilike_search(d, "text", "merge", limit=10).select(
        "doc_id", F.length("text").cast("bigint").alias("text_len")
    )


@query(
    "t5_search_fanout",
    oracle=f"""
    WITH doc_scores AS (
        {bm25_stemmed_sql(table="documents", id_col="doc_id", text_col="text", stemmed_terms=STEMMED_QUERY_TERMS)}
        SELECT * FROM scores
    ),
    doc_hits AS (
        SELECT d.doc_id AS id, d.text AS text, ROUND(s._score, 6) AS _score,
               'documents' AS _table
        FROM documents d JOIN doc_scores s ON d.doc_id = s.id
        ORDER BY ROUND(s._score, 6) DESC, d.doc_id LIMIT 10
    ),
    part_scores AS (
        {bm25_stemmed_sql(table="part", id_col="p_partkey", text_col="p_name", stemmed_terms=STEMMED_QUERY_TERMS)}
        SELECT * FROM scores
    ),
    part_hits AS (
        SELECT p.p_partkey AS id, p.p_name AS text, ROUND(s._score, 6) AS _score,
               'part' AS _table
        FROM part p JOIN part_scores s ON p.p_partkey = s.id
        ORDER BY ROUND(s._score, 6) DESC, p.p_partkey LIMIT 10
    )
    SELECT * FROM doc_hits UNION ALL SELECT * FROM part_hits
    """,
)
def t5_search_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 — cross-table search fan-out: per-table BM25 top-10, merged with a
    `_table` tag (fts.js:70-127)."""
    d = t(spark, sf_dir, "documents")
    p = t(spark, sf_dir, "part")
    return search_all_tables(
        {
            "documents": (d, "doc_id", "text"),
            "part": (p, "p_partkey", "p_name"),
        },
        QUERY_TEXT,
        limit=10,
        indexes={
            "documents": fts_index_for(spark, sf_dir, "documents", "doc_id", "text"),
            "part": fts_index_for(spark, sf_dir, "part", "p_partkey", "p_name"),
        },
    )
