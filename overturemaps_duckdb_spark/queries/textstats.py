"""Text-analysis inventory (LLM-pipeline extension surface): token counting,
quality scoring, language id, fingerprinting — all native column expressions
(functions/text.py), each value-checked against a DuckDB oracle stating the
identical formula."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from overturemaps_duckdb_spark.functions.text import (
    LANG_STOPWORDS,
    content_fingerprint,
    lang_id,
    quality_score,
    shingle_fingerprint,
    token_count,
    tokens,
)
from overturemaps_duckdb_spark.operators.textprep import (
    GOPHER_AWL_MAX,
    GOPHER_AWL_MIN,
    GOPHER_MIN_STOP_HITS,
    GOPHER_SYMBOL_MAX,
    GOPHER_WC_MAX,
    GOPHER_WC_MIN,
    gopher_rules,
    repetition_signals,
    sliding_chunks,
)
from overturemaps_duckdb_spark.queries import query, t, table_key
from overturemaps_duckdb_spark.queries._sql import (
    md5_long_sql,
    norm_sql,
    token_ngrams_sql,
    tokens_sql,
)


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


@query(
    "x1_token_count",
    oracle=f"""
    SELECT doc_id, CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual
    FROM documents
    """,
)
def x1_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace+regex token counting over `documents` (BASELINE north star:
    token counting for training-data budgeting)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


#: the x2 quality formula as a reusable CTE chain ending in q(doc_id, quality)
_QUALITY_CTES = f"""
    WITH base AS (
        SELECT doc_id, text, {tokens_sql('text')} AS tk, length(text) AS n
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CASE WHEN n > 0
                    THEN length(regexp_replace(lower(text), '[^a-z]+', '', 'g')) / n
                    ELSE 0.0 END AS alpha,
               CASE WHEN len(tk) > 0
                    THEN len(list_filter(tk, x -> x IN ({_in_list(LANG_STOPWORDS['en'])}))) / len(tk)
                    ELSE 0.0 END AS stop_ratio,
               CASE WHEN n >= 50 AND n <= 20000 THEN 1.0 ELSE 0.0 END AS len_ok,
               CASE WHEN len(tk) > 0
                     AND (CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT) * 1.0) / len(tk) >= 3.0
                     AND (CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT) * 1.0) / len(tk) <= 10.0
                    THEN 1.0 ELSE 0.0 END AS tok_ok
        FROM base
    ),
    q AS (
        SELECT doc_id,
               ROUND(0.4 * alpha + 0.3 * LEAST(stop_ratio * 5.0, 1.0)
                     + 0.15 * len_ok + 0.15 * tok_ok, 6)
                   AS quality
        FROM feats
    )
"""


@query(
    "x2_quality_score",
    oracle=_QUALITY_CTES + "SELECT doc_id, quality FROM q",
)
def x2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (length / alpha-ratio / stopword-density /
    token-shape) — the classic cheap pre-LLM text filter, pure codegen."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


@query(
    "qs1_quality_weighted_sample",
    oracle=_QUALITY_CTES
    + f"""
    SELECT doc_id, quality FROM q
    WHERE {md5_long_sql("CAST(doc_id AS VARCHAR)")} % 1000
          < greatest(quality, 0) * greatest(quality, 0) * 1000.0
    """,
)
def qs1_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality sampling (operators/sampling.quality_weighted_sample):
    survival probability = quality² — the FineWeb-style smooth filter
    between x2's raw score and x11's hard percentile cut.  Deterministic
    md5-bucket membership compared RAW against q²·1000 (no rate rounding
    — bit-identical membership in both engines)."""
    from overturemaps_duckdb_spark.operators.sampling import (
        quality_weighted_sample,
    )

    d = t(spark, sf_dir, "documents")
    scored = d.select("doc_id", quality_score("text").alias("quality"))
    return quality_weighted_sample(scored, "doc_id", "quality", exponent=2)


@query(
    "x3_lang_id",
    oracle=f"""
    WITH hits AS (
        SELECT doc_id,
               len(list_filter({tokens_sql('text')}, x -> x IN ({_in_list(LANG_STOPWORDS['en'])}))) AS en,
               len(list_filter({tokens_sql('text')}, x -> x IN ({_in_list(LANG_STOPWORDS['de'])}))) AS de,
               len(list_filter({tokens_sql('text')}, x -> x IN ({_in_list(LANG_STOPWORDS['fr'])}))) AS fr
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
                WHEN de >= fr AND de > 0 THEN 'de'
                WHEN fr > 0 THEN 'fr'
                ELSE 'und' END AS lang_pred
    FROM hits
    """,
)
def x3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language id (argmax over per-language hit counts,
    fixed tie order en>de>fr, 'und' when no evidence)."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id("text").alias("lang_pred"))


@query(
    "x4_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({tokens_sql('text')})), ' ')) AS content_fp,
           md5(array_to_string(list_sort(list_distinct(
               list_transform(range(1, greatest(length({norm_sql('text')}) - 2, 1) + 1),
                              i -> substr({norm_sql('text')}, CAST(i AS INTEGER), 3))
           )), ' ')) AS shingle_fp
    FROM documents
    """,
)
def x4_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: order-insensitive token-set fingerprint +
    3-shingle structural fingerprint (both md5 over sorted distinct sets)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        content_fingerprint("text").alias("content_fp"),
        shingle_fingerprint("text", 3).alias("shingle_fp"),
    )


#: GPT-2-style pre-tokenizer approximation: contraction suffixes, word /
#: number / punctuation runs with optional leading space, whitespace runs —
#: the "BPE-ish regex" tier of token counting for training budgets
_BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


@query(
    "x6_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '{_BPE_PATTERN.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens,
           CAST(CAST(ceil(length(text) / 4.0) AS BIGINT) AS BIGINT)
               AS n_est_tokens
    FROM documents
    """,
)
def x6_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword counting (GPT-2 pre-tokenizer regex, identical RE in
    both engines) plus the chars/4 budget estimate — the two cheap tiers of
    token accounting before a real tokenizer runs."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))
        ).cast("bigint").alias("n_bpe_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("n_est_tokens"),
    )


#: the classic training-data scrub patterns (applied in one pass each)
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_URL_RE = "https?://[^\\s]+"
_DIGITS_RE = "[0-9]{6,}"


@query(
    "x5_redaction",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
               text,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_URL_RE}', '<URL>', 'g'),
               '{_DIGITS_RE}', '<NUM>', 'g') AS redacted,
           CAST(length(regexp_replace(text, '{_EMAIL_RE}', '', 'g'))
                <> length(text) AS BOOLEAN) AS had_email
    FROM documents
    """,
)
def x5_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing for training data: email/URL/long-number spans
    replaced with typed placeholders — pure `regexp_replace` chain, one scan,
    fully codegen'd (Spark replaces globally by default; the oracle needs
    DuckDB's explicit 'g' flag)."""
    d = t(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _URL_RE,
            "<URL>",
        ),
        _DIGITS_RE,
        "<NUM>",
    )
    had_email = F.length(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "")
    ) != F.length("text")
    return d.select(
        "doc_id", redacted.alias("redacted"), had_email.alias("had_email")
    )


def _dup_frac_sql(arr: str) -> str:
    return (
        f"CASE WHEN len({arr}) > 0 THEN "
        f"ROUND(1.0 - len(list_distinct({arr})) * 1.0 / len({arr}), 6) "
        f"ELSE 0.0 END"
    )


@query(
    "x7_repetition_signals",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {tokens_sql('text')} AS tk FROM documents),
    g AS (
        SELECT doc_id, tk,
               {token_ngrams_sql('tk', 2)} AS g2,
               {token_ngrams_sql('tk', 3)} AS g3
        FROM tk
    )
    SELECT doc_id AS id,
           {_dup_frac_sql('tk')} AS dup_token_frac,
           {_dup_frac_sql('g2')} AS dup_2gram_frac,
           {_dup_frac_sql('g3')} AS dup_3gram_frac
    FROM g
    """,
)
def x7_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: fraction of tokens / word
    2-grams / word 3-grams that are within-document repeats — pure array
    expressions (operators/textprep.repetition_signals), no explode, no
    shuffle; rides any scan that already reads the text column."""
    d = t(spark, sf_dir, "documents")
    return repetition_signals(d, "doc_id", "text")


_CHUNK, _STRIDE = 200, 150

_CHUNK_SQL = f"substr(text, CAST((i - 1) * {_STRIDE} + 1 AS INTEGER), {_CHUNK})"


@query(
    "x8_sliding_chunks",
    oracle=f"""
    WITH n AS (
        SELECT doc_id, text,
               CAST(1 + ceil(greatest(length(text) - {_CHUNK}, 0) / {_STRIDE}.0)
                   AS BIGINT) AS nc
        FROM documents
    )
    SELECT doc_id AS id, CAST(i AS INTEGER) AS chunk_idx,
           {_CHUNK_SQL} AS chunk_text,
           CAST(length({_CHUNK_SQL}) AS BIGINT) AS n_chunk_chars
    FROM (SELECT doc_id, text, unnest(range(1, nc + 1)) AS i FROM n)
    """,
)
def x8_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sample segmentation: overlapping {_CHUNK}-char windows with
    {_STRIDE}-char stride (operators/textprep.sliding_chunks) — explode over
    a computed start sequence, rows stay co-partitioned with the parent doc
    (map-only stage between scan and tokenizer at 100 TB)."""
    d = t(spark, sf_dir, "documents")
    return sliding_chunks(d, "doc_id", "text", chunk_chars=_CHUNK, stride=_STRIDE)


@query(
    "x9_gopher_rules",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, {tokens_sql('text')} AS tk FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_words,
               ROUND(CASE WHEN len(tk) > 0
                     THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT)
                          * 1.0 / len(tk)
                     ELSE 0.0 END, 6) AS avg_word_len,
               ROUND(CASE WHEN length(text) > 0
                     THEN length(regexp_replace(text, '[a-zA-Z0-9\\s]+', '', 'g'))
                          * 1.0 / length(text)
                     ELSE 0.0 END, 6) AS symbol_frac,
               CAST(len(list_filter(tk, x -> x IN ({_in_list(LANG_STOPWORDS['en'])})))
                   AS BIGINT) AS stop_hits
        FROM base
    ),
    flagged AS (
        SELECT *,
               concat_ws(',',
                   CASE WHEN n_words NOT BETWEEN {GOPHER_WC_MIN} AND {GOPHER_WC_MAX}
                        THEN 'wc' END,
                   CASE WHEN avg_word_len NOT BETWEEN {GOPHER_AWL_MIN} AND {GOPHER_AWL_MAX}
                        THEN 'awl' END,
                   CASE WHEN symbol_frac > {GOPHER_SYMBOL_MAX} THEN 'sym' END,
                   CASE WHEN stop_hits < {GOPHER_MIN_STOP_HITS} THEN 'stop' END
               ) AS reasons
        FROM feats
    )
    SELECT doc_id AS id, n_words, avg_word_len, symbol_frac, stop_hits,
           reasons = '' AS keep, reasons
    FROM flagged
    """,
)
def x9_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter with per-rule reason codes (word count,
    mean word length, symbol fraction, stopword evidence) — the auditable
    keep/drop decision of a MassiveText-shaped corpus filter, pure codegen
    (operators/textprep.gopher_rules)."""
    d = t(spark, sf_dir, "documents")
    return gopher_rules(d, "doc_id", "text")


@query(
    "x10_corpus_composition",
    oracle=f"""
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({tokens_sql('text')})) AS BIGINT) AS n_tokens,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY source, lang
    """,
)
def x10_corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report: per (source, lang) document / token /
    length statistics — the mixture table a training run is budgeted
    against.  One partial-aggregated groupBy; token counting rides the
    scan."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("n_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


@query(
    "x11_quality_percentile_filter",
    oracle=_QUALITY_CTES + """,
    ql AS (
        SELECT q.doc_id, d.lang, q.quality
        FROM q JOIN documents d ON q.doc_id = d.doc_id
    )
    SELECT doc_id, lang, quality, pr FROM (
        SELECT doc_id, lang, quality,
               ROUND(percent_rank() OVER (PARTITION BY lang ORDER BY quality), 6) AS pr
        FROM ql
    ) WHERE pr >= 0.6
    """,
)
def x11_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality pruning: keep each language's top quality band
    (percent_rank ≥ 0.6 within the language) — the relative-cutoff filter a
    pipeline uses when absolute thresholds would gut low-resource languages.

    This registered form is the EXACT/verification twin (percent_rank must
    appear in the output, so it shuffles once on lang and sorts within each
    language partition; ties share a rank, so the cut is deterministic).
    The production default is operators/textprep.quality_percentile_prune
    (mode="approx"): approx_percentile per language + a broadcast threshold
    join — no per-language global sort, so one skewed language can't create
    one giant sort partition (equivalence + plan shape pinned in
    tests/test_quality_prune.py)."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("quality")
    return (
        d.select("doc_id", "lang", quality_score("text").alias("quality"))
        .withColumn("pr", F.round(F.percent_rank().over(w), 6))
        .where(F.col("pr") >= 0.6)
    )


@query(
    "x12_vocab_topk",
    oracle=f"""
    SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occ
    FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents)
    GROUP BY token
    ORDER BY n_occ DESC, token ASC
    LIMIT 20
    """,
)
def x12_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: the 20 most frequent normalized tokens with
    occurrence and document-frequency counts — the frequency table behind
    vocabulary building, stopword derivation, and df-based shingle
    pruning (the stop_df_cap input of the MinHash family).

    Scale shape: one explode → one groupBy(token) with map-side partial
    aggregation (each partition emits each distinct token once, so the
    shuffle carries the vocabulary, not the corpus), then
    TakeOrderedAndProject for the top-k — no global sort materializes.
    The boundary is deterministic: ties at rank 20 break on the token
    string itself."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    return (
        d.groupBy("token")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .orderBy(F.desc("n_occ"), F.asc("token"))
        .limit(20)
    )


@query(
    "x13_intra_doc_dedup",
    oracle="""
    WITH staged AS (
        SELECT doc_id,
               'src: ' || source || chr(10) || text || chr(10)
               || 'src: ' || source || chr(10) || text || chr(10)
               || 'footer: snapshot' AS text
        FROM documents
    ), e AS (
        SELECT doc_id, string_split(text, chr(10)) AS ls FROM staged
    ), x AS (
        SELECT doc_id, unnest(ls) AS line,
               generate_subscripts(ls, 1) AS i
        FROM e
    ), g AS (
        SELECT doc_id, line, min(i) AS mi FROM x GROUP BY doc_id, line
    ), agg AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY mi) AS text,
               CAST(count(*) AS BIGINT) AS n_after
        FROM g GROUP BY doc_id
    )
    SELECT agg.doc_id AS id, agg.text,
           CAST(len(e.ls) AS BIGINT) AS n_before, agg.n_after
    FROM agg JOIN e ON e.doc_id = agg.doc_id
    """,
)
def x13_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document line dedup (operators/textprep.
    intra_doc_line_dedup — C4's intra-doc rule; `ld1` is the cross-doc
    half): staged page = header + body + header + body + footer, so the
    repeated header/body collapse to first occurrences with order
    preserved.  Pure per-row column math — Spark's array_distinct keeps
    first-occurrence order; the oracle states the same via
    min(ordinality) per line.  No shuffle; scan-speed at 100 TB."""
    from overturemaps_duckdb_spark.operators.textprep import (
        intra_doc_line_dedup,
    )

    d = t(spark, sf_dir, "documents")
    # F.concat (NULL-propagating, matching the oracle's '||'): concat_ws
    # SKIPS nulls, so a NULL-text doc produced a staged header/footer row
    # in Spark while the oracle dropped it — a latent row-set divergence
    # (r8 review fix; today's fixture has no NULL text)
    staged = d.select(
        "doc_id",
        F.concat(
            F.lit("src: "), F.col("source"), F.lit("\n"),
            F.col("text"), F.lit("\n"),
            F.lit("src: "), F.col("source"), F.lit("\n"),
            F.col("text"), F.lit("\n"),
            F.lit("footer: snapshot"),
        ).alias("text"),
    )
    return intra_doc_line_dedup(staged, "doc_id", "text")


@query(
    "x14_hot_span_removal",
    oracle=f"""
    WITH tk AS (SELECT doc_id, text, {{tok}} AS tk FROM documents),
    g AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               array_to_string(list_slice(tk, CAST(i AS INTEGER),
                                          CAST(i + 7 AS INTEGER)), ' ') AS gram
        FROM tk, UNNEST(range(1, greatest(len(tk) - 7, 0) + 1)) AS u(i)
        WHERE len(tk) >= 8
    ),
    hot AS (
        SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
        GROUP BY gram HAVING count(*) >= 3
    ),
    spans AS (
        SELECT doc_id, list_sort(list(DISTINCT pos)) AS hs
        FROM g JOIN hot USING (gram) GROUP BY doc_id
    ),
    k AS (
        SELECT tk.doc_id, tk.text, tk.tk,
               list_filter(tk.tk, (x, i) -> len(list_filter(
                   coalesce(spans.hs, CAST([] AS INTEGER[])),
                   s -> i >= s AND i < s + 8)) = 0) AS kept
        FROM tk LEFT JOIN spans ON tk.doc_id = spans.doc_id
    )
    SELECT doc_id,
           -- coalesce: duckdb's array_to_string([]) is NULL, but a doc
           -- whose EVERY token was removed must read '' (emptied), not
           -- NULL (missing) — Spark's concat_ws says the same
           CASE WHEN text IS NOT NULL
                THEN coalesce(array_to_string(kept, ' '), '') END AS clean_text,
           CASE WHEN text IS NOT NULL
                THEN CAST(len(tk) AS BIGINT) END AS n_tokens,
           CASE WHEN text IS NOT NULL
                THEN CAST(len(tk) - len(kept) AS BIGINT) END AS n_removed
    FROM k
    """.format(tok=tokens_sql("text")),
)
def x14_hot_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-hot n-gram SPAN removal (operators/textprep.
    hot_ngram_span_removal): every token covered by an 8-gram occurring
    in ≥3 distinct documents is dropped, the rest of each doc survives —
    the substring-granularity boilerplate pass between line dedup (ld1)
    and whole-doc near-dup (d2).  Texts never shuffle: gram hashes and
    start positions carry the frequency pass, only hit positions regroup,
    and the positional filter runs map-side after one id join.  The
    oracle states the identical spans over gram STRINGS (engine side
    rides xxhash64 — identical absent 64-bit collisions)."""
    from overturemaps_duckdb_spark.operators.textprep import (
        hot_ngram_span_removal,
    )

    d = t(spark, sf_dir, "documents")
    return hot_ngram_span_removal(d, "doc_id", "text", n=8, min_docs=3)


_X15_SCORE = (
    "ROUND(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1.0), 6)"
)

@query(
    "x15_tfidf_keywords",
    oracle=f"""
    WITH inst AS (
        SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents
    ),
    tf AS (
        SELECT doc_id, token, count(*) AS tf FROM inst GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    ranked AS (
        SELECT tf.doc_id, tf.token, tf.tf, {_X15_SCORE} AS score,
               row_number() OVER (PARTITION BY tf.doc_id
                                  ORDER BY {_X15_SCORE} DESC, tf.token) AS rank
        FROM tf JOIN dfreq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, score,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def x15_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by smooth TF-IDF
    (operators/textprep.tfidf_keywords — sklearn's tf·(ln((1+N)/(1+df))+1)
    with 6-dp pre-rank rounding and token-string tie-break).  The
    vocabulary-statistics half of a corpus indexing pass: same shuffles
    as x12's vocab head plus a token-key equi-join back to the per-doc
    frame and a WindowGroupLimit k-cut — no vocabulary broadcast, so the
    shape survives a web-scale token space."""
    from overturemaps_duckdb_spark.operators.textprep import tfidf_keywords

    d = t(spark, sf_dir, "documents")
    return tfidf_keywords(d, "doc_id", "text", k=3)


#: shared CTE chain computing (doc_id, n_tokens, nll) — the x16 oracle
#: body, reused by x20's tercile bucketing
_X16_NLL_CTES = f"""
    WITH inst AS (
        SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents
    ),
    tf AS (
        SELECT doc_id, token, count(*) AS tf FROM inst GROUP BY doc_id, token
    ),
    vocab AS (SELECT token, CAST(sum(tf) AS DOUBLE) AS c FROM tf GROUP BY token),
    tt AS (SELECT CAST(sum(c) AS DOUBLE) AS tt FROM vocab),
    terms AS (
        SELECT tf.doc_id, tf.tf,
               CAST(ROUND(-CAST(tf.tf AS DOUBLE) * ln(vocab.c / tt.tt) * 1e6)
                    AS BIGINT) AS tm
        FROM tf JOIN vocab USING (token) CROSS JOIN tt
    ),
    nll AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               ROUND(CAST(CAST(sum(tm) AS HUGEINT) AS BIGINT)
                     / 1e6 / CAST(sum(tf) AS DOUBLE), 6) AS nll
        FROM terms GROUP BY doc_id
    )
"""


@query(
    "x16_unigram_logprob",
    oracle=_X16_NLL_CTES + "SELECT doc_id, n_tokens, nll FROM nll",
)
def x16_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus unigram LM
    (operators/textprep.unigram_logprob — the CCNet-style statistical
    quality signal; x2's heuristic score is its rule-based sibling).
    Per-token terms are quantized to integer micro-nats before the
    per-doc sum (the cents trick in log space), so the value is exact
    under any partial-agg order in either engine; docs with ≥1 token
    only."""
    from overturemaps_duckdb_spark.operators.textprep import unigram_logprob

    d = t(spark, sf_dir, "documents")
    return unigram_logprob(d, "doc_id", "text")


_X17_NORM = norm_sql("text")

@query(
    "x17_char_entropy",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, string_split({_X17_NORM}, '') AS chars,
               length({_X17_NORM}) AS n
        FROM documents
        WHERE {_X17_NORM} IS NOT NULL AND length({_X17_NORM}) > 0
    ),
    t2 AS (
        SELECT doc_id, n,
               CAST(CAST(list_sum(list_transform(list_distinct(chars),
                   c -> CAST(ROUND(
                            len(list_filter(chars, x -> x = c))
                            * ln(len(list_filter(chars, x -> x = c)))
                            * 1e6) AS BIGINT))) AS HUGEINT) AS BIGINT)
                   AS micro
        FROM s
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           ROUND(ln(n) - micro / 1e6 / n, 6) AS entropy
    FROM t2
    """,
)
def x17_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (functions/
    text.char_entropy_frame) — the junk/binary-text quality signal next
    to x2's rule score and x16's LM cross-entropy.  No explode, no
    shuffle: one staged normalize + one Arrow byte-bincount kernel per
    batch (impl pinned explicitly, the n3/a7 convention; the UDF-free
    fold twin is bit-identical — integer micro-nat terms — and
    CI-pinned).  Per-char terms quantize to integer micro-nats before
    the sum so both engines agree bit-for-bit at 6 dp.  Docs with empty
    normalized text are excluded (stated identically in the oracle's
    WHERE)."""
    from overturemaps_duckdb_spark.functions.text import char_entropy_frame

    d = t(spark, sf_dir, "documents")
    return char_entropy_frame(
        d.select("doc_id", "text"), "text", impl="vectorized"
    ).select("doc_id", "n_chars", "entropy")


@query(
    "x20_perplexity_buckets",
    oracle=_X16_NLL_CTES
    + """,
    cuts AS (
        SELECT ROUND(quantile_cont(nll, 1.0/3), 6) AS c1,
               ROUND(quantile_cont(nll, 2.0/3), 6) AS c2
        FROM nll
    )
    SELECT doc_id, n_tokens, nll,
           CASE WHEN nll <= c1 THEN 'head'
                WHEN nll <= c2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM nll CROSS JOIN cuts
    """,
)
def x20_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing: docs split into head/middle/tail
    terciles of the corpus-LM cross-entropy (x16's nll; LOW nll = most
    in-distribution = head) — the curriculum/quality partition CCNet
    filters and sources training mixes from.  Cut points come from the
    exact distributed-selection quantile operator (e4's machinery, one
    global group) and broadcast as two scalars; the labeling is a
    scan-speed projection.  Safe at 6 dp BY ARITHMETIC: nll values are
    1e-6-quantized, so tercile interpolation offsets are m/3 micro-units
    — never half-grid, so the rounded cuts can't flip cross-engine."""
    from overturemaps_duckdb_spark.operators.quantiles import (
        grouped_quantile_cont,
    )
    from overturemaps_duckdb_spark.operators.textprep import unigram_logprob

    d = t(spark, sf_dir, "documents")
    # lru_persist (r14): the doc-level nll frame feeds the tercile-cut
    # quantile pass AND the final bucketing projection — without it the
    # whole LM pipeline re-ran per reference (executed x20: 6 parquet
    # scans before the r14 caches, 1 after).  Tiny artifact: one row per
    # document.
    from overturemaps_duckdb_spark.operators._util import lru_persist

    nll = lru_persist(unigram_logprob(d, "doc_id", "text"), "lm_stats")
    cuts = grouped_quantile_cont(
        nll,
        [],
        "nll",
        [1.0 / 3, 2.0 / 3],
        out_names=["c1", "c2"],
        sizing_key=("x20", *table_key(sf_dir, "documents")),
    ).select(F.round("c1", 6).alias("c1"), F.round("c2", 6).alias("c2"))
    bucket = (
        F.when(F.col("nll") <= F.col("c1"), F.lit("head"))
        .when(F.col("nll") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return nll.crossJoin(F.broadcast(cuts)).select(
        "doc_id", "n_tokens", "nll", bucket.alias("bucket")
    )


@query(
    "x18_bigram_logprob",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id AS id, {tokens_sql('text')} AS tk FROM documents
    ),
    inst AS (
        SELECT id, unnest({token_ngrams_sql('tk', 2)}) AS bg
        FROM docs WHERE len(tk) >= 2
    ),
    bf AS (
        SELECT id, bg, CAST(count(*) AS BIGINT) AS tf FROM inst GROUP BY id, bg
    ),
    cb AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS c FROM bf GROUP BY bg),
    ctx AS (
        SELECT string_split(bg, ' ')[1] AS l, CAST(sum(c) AS BIGINT) AS cl
        FROM cb GROUP BY 1
    ),
    vocab AS (
        SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
        FROM (SELECT unnest(tk) AS tok FROM docs)
    ),
    terms AS (
        SELECT bf.id, bf.tf,
               CAST(ROUND(-CAST(bf.tf AS DOUBLE)
                    * ln((CAST(cb.c AS DOUBLE) + 1.0)
                         / (CAST(ctx.cl AS DOUBLE) + 1.0 * v.v)) * 1e6)
                    AS BIGINT) AS tm
        FROM bf JOIN cb USING (bg)
        JOIN ctx ON string_split(bf.bg, ' ')[1] = ctx.l
        CROSS JOIN vocab v
    )
    SELECT id AS doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           CAST((2 * CAST(CAST(sum(tm) AS HUGEINT) AS BIGINT) + sum(tf))
                // (2 * sum(tf)) AS DOUBLE) / 1e6 AS nll
    FROM terms GROUP BY id
    """,
)
def x18_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's add-1-smoothed
    BIGRAM LM (operators/textprep.bigram_logprob) — the conditional
    upgrade of x16's unigram signal (CCNet's KenLM filter is the 5-gram
    member of this family).  Bigrams are space-joined strings from
    token_ngrams, so the context join needs no struct keys; per-bigram
    terms quantize to integer micro-nats before the per-doc sum, and the
    per-doc mean is an exact half-up integer division (both engines'
    float ROUND flips on half-boundary docs — measured at the 10×
    fixture); docs with ≥2 tokens only."""
    from overturemaps_duckdb_spark.operators.textprep import bigram_logprob

    d = t(spark, sf_dir, "documents")
    return bigram_logprob(d, "doc_id", "text", alpha=1.0)


@query(
    "x19_doc_novelty",
    oracle=f"""
    WITH d0 AS (
        SELECT doc_id, {tokens_sql('text')} AS tk FROM documents
    ),
    docs AS (
        SELECT doc_id, list_distinct({token_ngrams_sql('tk', 8)}) AS gs
        FROM d0 WHERE len(tk) >= 1
    ),
    inst AS (
        SELECT doc_id, {md5_long_sql('g')} AS h
        FROM (SELECT doc_id, unnest(gs) AS g FROM docs)
    ),
    dfreq AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM inst GROUP BY h),
    per AS (
        SELECT i.doc_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u
        FROM inst i JOIN dfreq f USING (h) GROUP BY i.doc_id
    )
    SELECT doc_id, n AS n_grams,
           ROUND(CAST(u AS DOUBLE) / n, 6) AS novelty
    FROM per
    """,
)
def x19_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: share of the doc's distinct token 8-grams
    that are corpus-unique (operators/textprep.doc_novelty) — the inverse
    of x14's hot-span signal; exact duplicates score 0.0.  Grams hash to
    60-bit keys before any shuffle (text never moves), identically in
    both engines, so the value is defined over the hashed gram space."""
    from overturemaps_duckdb_spark.operators.textprep import doc_novelty

    d = t(spark, sf_dir, "documents")
    return doc_novelty(d, "doc_id", "text", n=8)


_BPE_MERGES = 4


def _bpe_oracle(n_merges: int) -> str:
    """Chained-CTE twin of operators/textprep.bpe_learn_merges: per round,
    pair counts → argmax → greedy left-to-right rewrite.  The greedy
    non-overlap rule is stated positionally (overlapping matches only
    arise for self-pairs, forming runs of consecutive positions; keeping
    even offsets within each run IS the left-to-right fold).

    Every CTE of the chain (vocab0 and each round's) is declared
    ``AS MATERIALIZED`` so it is computed once.  DuckDB 1.0 inlines a
    non-materialized CTE at every reference, and each round references
    its predecessors several times (vocab{r} reads pos{r} directly and
    through both keep{r} joins; match{r} reads best{r} twice), so without
    the keyword the plan re-derives the chain per reference and its cost
    multiplies with every round: at sf0.01 (31 distinct words, 4-core
    15 GB host) K=4 took 6.7 s and one rewrite more (bpe2's oracle) ran
    out of memory after minutes.  Materializing changes no result: every
    CTE is deterministic (best{r} ties break on ``f DESC, lft, rgt``;
    (w, i) is unique within match{r})."""
    sql = f"""
WITH vocab0 AS MATERIALIZED (
    SELECT w, string_split(w, '') AS syms, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest({tokens_sql('text')}) AS w FROM documents)
    GROUP BY w
)"""
    for r in range(1, n_merges + 1):
        prev = f"vocab{r - 1}"
        sql += f""",
pairs{r} AS MATERIALIZED (
    SELECT syms[CAST(i AS INTEGER)] AS lft,
           syms[CAST(i AS INTEGER) + 1] AS rgt,
           CAST(sum(n) AS BIGINT) AS f
    FROM {prev}, UNNEST(range(1, len(syms))) AS u(i)
    GROUP BY 1, 2
),
best{r} AS MATERIALIZED (SELECT lft, rgt, f FROM pairs{r} ORDER BY f DESC, lft, rgt LIMIT 1)"""
        if r < n_merges:
            sql += f""",
pos{r} AS MATERIALIZED (
    SELECT w, n, syms, CAST(i AS INTEGER) AS i
    FROM {prev}, UNNEST(range(1, len(syms) + 1)) AS u(i)
),
match{r} AS MATERIALIZED (
    SELECT w, i FROM pos{r}
    WHERE i < len(syms)
      AND syms[i] = (SELECT lft FROM best{r})
      AND syms[i + 1] = (SELECT rgt FROM best{r})
),
keep{r} AS MATERIALIZED (
    SELECT w, i FROM (
        SELECT w, i,
               row_number() OVER (PARTITION BY w, grp ORDER BY i) - 1 AS k
        FROM (SELECT w, i,
                     i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
              FROM match{r})
    ) WHERE k % 2 = 0
),
vocab{r} AS MATERIALIZED (
    SELECT p.w AS w, p.n AS n,
           list(CASE WHEN k.i IS NOT NULL
                     THEN p.syms[p.i] || p.syms[p.i + 1]
                     ELSE p.syms[p.i] END ORDER BY p.i) AS syms
    FROM pos{r} p
    LEFT JOIN keep{r} k ON k.w = p.w AND k.i = p.i
    LEFT JOIN keep{r} k2 ON k2.w = p.w AND k2.i = p.i - 1
    WHERE k2.i IS NULL
    GROUP BY p.w, p.n
)"""
    selects = [
        f"SELECT CAST({r} AS INTEGER) AS rank, lft AS lhs, rgt AS rhs, "
        f"f AS freq FROM best{r}"
        for r in range(1, n_merges + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects)


@query("bpe1_merge_induction", oracle=_bpe_oracle(_BPE_MERGES))
def bpe1_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction (operators/textprep.bpe_learn_merges —
    Sennrich et al. 2016): the first 4 merge rules learned over the
    corpus, each round's globally most frequent adjacent symbol pair
    (ties → lexicographic) merged greedily left-to-right within words.

    The iterative-algorithm showcase: K rounds of one vocabulary-level
    pair-count aggregation (map-side combined, shuffle carries distinct
    pairs) + a 1-row argmax + a scan-speed in-row fold rewrite, with the
    vocabulary checkpointed per round (the d6 lineage cut).  The corpus
    text is scanned once, ever.  The oracle replays the identical rounds
    as chained CTEs, stating the greedy non-overlap rule positionally —
    full value-hash certification of an iterative algorithm."""
    from overturemaps_duckdb_spark.operators.textprep import bpe_learn_merges

    d = t(spark, sf_dir, "documents")
    return bpe_learn_merges(d, "doc_id", "text", _BPE_MERGES)


#: the _bpe_oracle CTE chain ends with vocab{K-1} + best{K}; bpe2 needs the
#: state AFTER all K merges, so its oracle extends the chain one rewrite
#: further and selects the final vocabulary.  The extra round is why the
#: chain must stay MATERIALIZED (see _bpe_oracle): with the per-round CTEs
#: inlined, DuckDB 1.0 took 7.7 s for this oracle at K=3 and ran out of
#: memory at K=4 on sf0.01
def _bpe_apply_oracle(n_merges: int) -> str:
    base = _bpe_oracle(n_merges + 1)
    # reuse the generator's vocab{n_merges} (the state after n_merges
    # rewrites), discarding its extra pairs/best CTEs via the final SELECT
    head = base.rsplit(",\npairs" + str(n_merges + 1), 1)[0]
    # space-joined, not list-typed: the driver's pandas canonicalizer
    # raises on top-level array columns (CORRECTNESS_r11 bpe2 failure);
    # symbols are whitespace-tokenized words so ' ' never collides
    return (
        head
        + f"\nSELECT w AS word, array_to_string(syms, ' ') AS segmented, n"
        + f" FROM vocab{n_merges}"
    )


@query("bpe2_tokenize", oracle=_bpe_apply_oracle(_BPE_MERGES))
def bpe2_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encode half of the tokenizer pipeline (bpe1 learns, this
    applies): every distinct corpus word segmented by the 4 learned
    merges, with occurrence counts — the encode table a dataloader joins
    against (then x6 counts, pk1 packs).  Spark replays the learned
    merges as K in-row greedy folds over the word-count vocabulary
    (operators/textprep.bpe_apply); the oracle extends bpe1's chained
    CTEs one rewrite further and reads the final vocabulary state —
    learn and apply certified against the same machinery.

    ``segmented`` is serialized as a space-joined string on both sides:
    the driver's pandas canonicalizer raises ``unhashable type: 'list'``
    on top-level array columns (the r11 failure class), and since words
    are whitespace-tokenized no symbol can contain the delimiter."""
    from overturemaps_duckdb_spark.operators.textprep import (
        bpe_apply,
        bpe_learn_merges,
    )

    d = t(spark, sf_dir, "documents")
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_learn_merges(d, "doc_id", "text", _BPE_MERGES)
        .orderBy("rank")
        .collect()
    ]
    return bpe_apply(d, "text", merges).select(
        "word", F.concat_ws(" ", "segmented").alias("segmented"), "n"
    )
