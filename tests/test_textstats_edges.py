"""shingle_fingerprint bind-once equivalence (r6): the bound form must be
value-identical to the reference construction (char_ngrams + md5) on
every edge shape — NULL text, empty, shorter-than-k, exactly-k,
punctuation-only (normalizes to empty), multibyte — plus a randomized
sweep.  Guards the size(chars)==length(norm) substitution."""

from __future__ import annotations

import random

import pyspark.sql.functions as F

from overturemaps_duckdb_spark.functions.text import (
    char_ngrams,
    shingle_fingerprint,
)


def _reference_fp(text_col, k):
    sh = char_ngrams(text_col, k)
    return F.md5(F.array_join(F.array_sort(F.array_distinct(sh)), " "))


def test_shingle_fingerprint_matches_reference_construction(spark):
    rng = random.Random(6)
    texts = [
        None,
        "",
        "a",
        "ab",
        "abc",
        "abcd",
        "  ",
        "!!!",
        "a!b",
        "héllo wörld",
        "x" * 500,
    ] + [
        "".join(rng.choice("ab !c.d") for _ in range(rng.randint(0, 40)))
        for _ in range(60)
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for k in (2, 3, 5):
        rows = df.select(
            _reference_fp(F.col("text"), k).alias("want"),
            shingle_fingerprint("text", k).alias("got"),
        ).collect()
        for i, r in enumerate(rows):
            assert r["got"] == r["want"], (k, texts[i])


def test_quality_score_bounded_unit_interval(spark):
    """r8 review fix: the stopword component was uncapped (0.3*ratio*5),
    so stopword-dense English scored past 1.0 (max 2.2, 'the the the…'
    scored 1.8) — breaking the documented [0,1] composite for any
    absolute-threshold consumer.  It now saturates at ratio 0.2; the
    oracle CTE states the same LEAST."""
    from overturemaps_duckdb_spark.functions.text import quality_score

    texts = [
        ("the the the the the the the the the the the the the "
         "the the the the the the the the the the the the the",),
        ("the cat and the dog sat in a field of the tall grass "
         "for most of it and then the sun set in the west",),
        ("zzz qqq xxx",),
        (None,),
    ]
    rows = (
        spark.createDataFrame(texts, "t string")
        .select(quality_score("t").alias("q"))
        .collect()
    )
    for r in rows:
        assert 0.0 <= r["q"] <= 1.0, r
    assert rows[1]["q"] > rows[2]["q"]  # real English still outranks junk


def test_hashed_shingles_no_overflow_and_values_stable(spark):
    """r8 review fix: the rolling polynomial reduced mod 2^30 only at the
    END, overflowing int64 at k ≥ 9 (ANSI ARITHMETIC_OVERFLOW at
    runtime).  Stepwise reduction is bit-identical (mod distributes over
    * and +) — pinned against a pure-Python evaluation for both a
    previously-working k and a previously-overflowing one."""
    import pyspark.sql.functions as F

    from overturemaps_duckdb_spark.functions.text import (
        MINHASH_BASE_BITS,
        SHINGLE_B,
        hashed_shingles,
    )

    def py_shingles(text: str, k: int) -> list[int]:
        import re

        norm = re.sub(r"\s+", " ", text.lower()).strip()
        codes = [ord(c) for c in norm]
        m = 1 << MINHASH_BASE_BITS
        n = max(len(codes) - k + 1, 1)
        out = []
        for i in range(n):
            window = codes[i : i + k] + [0] * max(0, k - (len(codes) - i))
            h = 0
            for c in window[:k]:
                h = h * SHINGLE_B + c
            v = h % m
            if v not in out:
                out.append(v)
        return out

    text = "the quick brown fox jumps over the lazy dog zzzzzzzzzzzzzz"
    for k in (5, 12):  # 12 overflowed int64 before the fix
        got = (
            spark.createDataFrame([(text,)], "t string")
            .select(hashed_shingles("t", k).alias("h"))
            .collect()[0]["h"]
        )
        assert got == py_shingles(text, k), f"k={k}"


def test_decontaminate_empty_normalized_docs_not_flagged(spark):
    """r8 review fix: zero-token documents fell into token_ngrams'
    whole-doc fallback as the EMPTY gram, so one punctuation-only bench
    row flagged every empty-normalized training doc as contaminated."""
    from overturemaps_duckdb_spark.operators.textprep import ngram_decontaminate

    train = spark.createDataFrame(
        [(1, "---"), (2, "a real sentence with eight shared tokens here ok")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(10, "!!!"), (11, "a real sentence with eight shared tokens here ok")],
        "doc_id long, text string",
    )
    hits = {
        r["id"]: r["n_hit_grams"]
        for r in ngram_decontaminate(train, bench, "doc_id", "text", n=8).collect()
    }
    assert 1 not in hits  # punctuation-only doc shares NO real gram
    assert hits.get(2, 0) >= 1  # genuine verbatim overlap still flagged


def test_sliding_chunks_rejects_gapped_stride(spark):
    import pytest

    from overturemaps_duckdb_spark.operators.textprep import sliding_chunks

    df = spark.createDataFrame([(1, "x" * 500)], "doc_id long, text string")
    with pytest.raises(ValueError, match="coverage gaps"):
        sliding_chunks(df, "doc_id", "text", chunk_chars=200, stride=300)


def test_tfidf_keywords_formula_and_ties(spark):
    """Hand-checked smooth TF-IDF on a 3-doc corpus + token tie-break."""
    import math

    from overturemaps_duckdb_spark.operators.textprep import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["rank"]): (r["token"], r["tf"], r["score"])
        for r in tfidf_keywords(docs, "doc_id", "text", k=2).collect()
    }

    def score(tf, df, n=3):
        return round(tf * (math.log((1 + n) / (1 + df)) + 1), 6)

    # doc 1: apple tf2 df1, banana tf1 df2
    assert got[(1, 1)] == ("apple", 2, score(2, 1))
    assert got[(1, 2)] == ("banana", 1, score(1, 2))
    # doc 2: banana/cherry both tf1 df2 — equal score, token breaks tie
    assert got[(2, 1)][0] == "banana" and got[(2, 2)][0] == "cherry"
    assert got[(2, 1)][2] == got[(2, 2)][2] == score(1, 2)
    # doc 3: cherry tf3 dominates; date tf1 df1 beats nothing else
    assert got[(3, 1)] == ("cherry", 3, score(3, 2))
    assert got[(3, 2)] == ("date", 1, score(1, 1))


def test_tfidf_keywords_skips_empty_docs(spark):
    from overturemaps_duckdb_spark.operators.textprep import tfidf_keywords

    docs = spark.createDataFrame(
        [(1, "real words here"), (2, "---"), (3, None)],
        "doc_id long, text string",
    )
    ids = {r["doc_id"] for r in tfidf_keywords(docs, "doc_id", "text").collect()}
    assert ids == {1}
    # but empty/NULL docs still count in N (corpus size is table size)
    one = tfidf_keywords(docs, "doc_id", "text", k=1).collect()[0]
    import math

    assert one["score"] == round(1 * (math.log((1 + 3) / (1 + 1)) + 1), 6)


def test_unigram_logprob_hand_computed(spark):
    """nll matches the exact hand formula incl. the micro-nat quantize."""
    import math

    from overturemaps_duckdb_spark.operators.textprep import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "")],
        "doc_id long, text string",
    )
    # corpus counts: a=2 b=2 c=1, TT=5
    got = {
        r["doc_id"]: (r["n_tokens"], r["nll"])
        for r in unigram_logprob(docs, "doc_id", "text").collect()
    }

    def micro(tf, c, tt=5.0):
        return round(-tf * math.log(c / tt) * 1e6)

    nll1 = round((micro(2, 2) + micro(1, 2)) / 1e6 / 3, 6)
    nll2 = round((micro(1, 2) + micro(1, 1)) / 1e6 / 2, 6)
    assert got == {1: (3, nll1), 2: (2, nll2)}  # doc 3 has no tokens


def test_unigram_logprob_uniform_corpus_is_ln_n(spark):
    """All-distinct tokens: every doc's nll is ln(TT) exactly."""
    import math

    from overturemaps_duckdb_spark.operators.textprep import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    for r in unigram_logprob(docs, "doc_id", "text").collect():
        assert r["nll"] == round(round(math.log(4) * 1e6) * 2 / 1e6 / 2, 6)


def test_char_entropy_hand_values(spark):
    """Uniform text → ln(alphabet); constant text → 0; empty/NULL → NULL."""
    import math

    from overturemaps_duckdb_spark.functions.text import char_entropy_struct

    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "aaaa"), (3, "---"), (4, None), (5, "ab ab")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: None if r["e"] is None else (r["e"]["n_chars"], r["e"]["entropy"])
        for r in docs.select(
            "doc_id", char_entropy_struct("text").alias("e")
        ).collect()
    }
    assert got[1] == (4, round(math.log(4), 6))  # 4 distinct chars, uniform
    assert got[2] == (4, 0.0)  # single-symbol text
    assert got[3] is None  # normalizes to empty
    assert got[4] is None  # NULL text
    # "ab ab": normalized keeps the space; counts a=2 b=2 ' '=1, n=5
    micro = 2 * round(2 * math.log(2) * 1e6)  # ' ' term is round(1·ln1)=0
    assert got[5] == (5, round(math.log(5) - micro / 1e6 / 5, 6))


def test_char_entropy_plan_has_no_shuffle(spark):
    from overturemaps_duckdb_spark.functions.text import char_entropy_struct

    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    plan = (
        docs.select("doc_id", char_entropy_struct("text").alias("e"))
        ._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Exchange" not in plan


def _py_bpe(texts, n_merges):
    """Row-at-a-time reference BPE (vocab-level, greedy left-to-right)."""
    import re
    from collections import Counter

    vocab = Counter()
    for t_ in texts:
        if t_ is None:
            continue
        norm = re.sub(r"[^a-z0-9]+", " ", t_.lower()).strip()
        for w in norm.split():
            if w:
                vocab[w] += 1
    syms = {w: list(w) for w in vocab}
    out = []
    for rank in range(1, n_merges + 1):
        counts = Counter()
        for w, s in syms.items():
            for a, b in zip(s, s[1:]):
                counts[(a, b)] += vocab[w]
        if not counts:
            break
        (a, b), f = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((rank, a, b, f))
        if rank < n_merges:
            for w, s in syms.items():
                ns, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        ns.append(s[i] + s[i + 1])
                        i += 2
                    else:
                        ns.append(s[i])
                        i += 1
                syms[w] = ns
    return out


def test_bpe_merges_match_python_reference(spark):
    """Randomized differential incl. self-pair runs ('aaaa' words) that
    exercise the greedy non-overlap rule."""
    import random

    from overturemaps_duckdb_spark.operators.textprep import bpe_learn_merges

    rng = random.Random(42)
    words = ["low", "lower", "lowest", "aaaa", "aaa", "banana", "bandana",
             "ababab", "xyxyxy", "zz"]
    for trial in range(3):
        texts = [
            " ".join(rng.choice(words) for _ in range(rng.randrange(1, 12)))
            for _ in range(30)
        ] + [None, "", "!!!"]
        rows = [(i, t_) for i, t_ in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [
            (r["rank"], r["lhs"], r["rhs"], r["freq"])
            for r in bpe_learn_merges(df, "doc_id", "text", 5)
            .orderBy("rank")
            .collect()
        ]
        assert got == _py_bpe(texts, 5), f"trial {trial}"


def test_bpe_merges_rejects_bad_k(spark):
    import pytest

    from overturemaps_duckdb_spark.operators.textprep import bpe_learn_merges

    df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_merges"):
        bpe_learn_merges(df, "doc_id", "text", 0)


def test_char_entropy_fold_vs_vectorized_identical(spark):
    """The Arrow kernel and the portable fold must produce IDENTICAL rows
    (integer micro-nat sums leave no float summation freedom)."""
    import random

    from overturemaps_duckdb_spark.functions.text import char_entropy_frame

    rng = random.Random(3)
    words = ["spark", "naïve", "東京", "aaa", "x1y2", "!!!", ""]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(0, 25))))
        for i in range(200)
    ] + [(200, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fold = sorted(
        tuple(r)
        for r in char_entropy_frame(df, "text", impl="fold")
        .select("doc_id", "n_chars", "entropy")
        .collect()
    )
    vec = sorted(
        tuple(r)
        for r in char_entropy_frame(df, "text", impl="vectorized")
        .select("doc_id", "n_chars", "entropy")
        .collect()
    )
    assert fold == vec and len(fold) > 100


def test_bpe_apply_matches_python_reference(spark):
    from overturemaps_duckdb_spark.operators.textprep import (
        bpe_apply,
        bpe_learn_merges,
    )

    texts = ["low lower lowest low low", "new newer newest new", "aaaa aaa"]
    rows = [(i, t_) for i, t_ in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    learned = [
        (r["lhs"], r["rhs"])
        for r in bpe_learn_merges(df, "doc_id", "text", 4)
        .orderBy("rank")
        .collect()
    ]
    got = {
        r["word"]: (list(r["segmented"]), r["n"])
        for r in bpe_apply(df, "text", learned).collect()
    }

    def apply_ref(word):
        s = list(word)
        for a, b in learned:
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    ns.append(s[i] + s[i + 1])
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            s = ns
        return s

    from collections import Counter

    vocab = Counter(w for t_ in texts for w in t_.split())
    assert got == {w: (apply_ref(w), c) for w, c in vocab.items()}


def test_bpe_oracles_materialize_every_round_cte():
    """DuckDB 1.0 inlines a non-MATERIALIZED CTE at every reference; the
    BPE oracles reference each round's CTEs several times, so an inlined
    chain's cost multiplies per round (bpe2's oracle ran out of memory at
    sf0.01).  Every per-round CTE must stay declared AS MATERIALIZED."""
    import re

    from overturemaps_duckdb_spark.queries.textstats import (
        _BPE_MERGES,
        _bpe_apply_oracle,
        _bpe_oracle,
    )

    k = _BPE_MERGES
    cte = re.compile(r"^(?:WITH )?(\w+) AS (MATERIALIZED )?\(", re.M)
    for sql, rewrites in (
        (_bpe_oracle(k), k - 1),
        (_bpe_apply_oracle(k), k),
    ):
        declared = {m.group(1): bool(m.group(2)) for m in cte.finditer(sql)}
        per_round = [f"{n}{r}" for r in range(1, k + 1) for n in ("pairs", "best")]
        per_round += [
            f"{n}{r}"
            for r in range(1, rewrites + 1)
            for n in ("pos", "match", "keep", "vocab")
        ]
        missing = [n for n in per_round if n not in declared]
        inlined = [n for n in per_round if not declared.get(n)]
        assert not missing, missing
        assert not inlined, inlined


def test_char_entropy_frame_vectorized_no_shuffle(spark):
    """The Arrow path must stay a pure per-row pass: Arrow eval node
    present, no Exchange anywhere."""
    from overturemaps_duckdb_spark.functions.text import char_entropy_frame

    docs = spark.createDataFrame([(1, "abc abc")], "doc_id long, text string")
    plan = (
        char_entropy_frame(docs, "text")
        ._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
