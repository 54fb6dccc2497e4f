"""Property-based dedup tests: random tiny corpora from a small token
vocabulary; operator output must equal pure-Python set-arithmetic
oracles (exact hashes, exact Jaccard, component fixpoints)."""

import re

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from feast_hive_spark.operators import dedup as D

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]


@st.composite
def corpus(draw):
    n_docs = draw(st.integers(2, 8))
    docs = []
    for i in range(n_docs):
        n_words = draw(st.integers(0, 10))
        words = [VOCAB[draw(st.integers(0, len(VOCAB) - 1))] for _ in range(n_words)]
        docs.append((i, " ".join(words)))
    return pd.DataFrame(docs, columns=["doc_id", "text"])


def py_shingles(text, n=3):
    w = text.lower().split()
    return set(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))


def py_pairs(pdf, threshold, n=3):
    S = {r.doc_id: py_shingles(r.text, n) for r in pdf.itertuples()}
    out = set()
    ids = sorted(S)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = S[a], S[b]
            if not sa and not sb:
                continue
            if len(sa & sb) / max(len(sa | sb), 1) >= threshold:
                out.add((a, b))
    return out


@pytest.mark.slow
@settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(corpus())
def test_ngram_jaccard_property(spark, pdf):
    got = D.ngram_jaccard_pairs(
        spark.createDataFrame(pdf), "doc_id", "text", threshold=0.5
    ).toPandas()
    assert set(zip(got.id_a, got.id_b)) == py_pairs(pdf, 0.5)


@pytest.mark.slow
@settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(corpus())
def test_exact_dedup_property(spark, pdf):
    got = D.exact_dedup(
        spark.createDataFrame(pdf), "doc_id", "text"
    ).toPandas()
    groups = {}
    for r in pdf.itertuples():
        groups.setdefault(r.text, []).append(r.doc_id)
    expected = {min(ids): len(ids) for ids in groups.values()}
    assert got.set_index("doc_id")["n_copies"].to_dict() == expected


@pytest.mark.slow
@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=12))
def test_connected_components_property(spark, edges):
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    pairs = spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"])
    )
    # distributed star contraction (the fast path is checked below)
    got = D.connected_components_star(pairs, small_graph_threshold=0).toPandas()
    # python union-find oracle
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}
    assert got.set_index("doc_id")["component_id"].to_dict() == expected
    # the small-graph driver fast path must agree with the same oracle
    star = D.connected_components_star(pairs).toPandas()
    assert star.set_index("doc_id")["component_id"].to_dict() == expected


# ------------------------------------------------- corpus.py property tests


def py_chunk_dedup(pdf, ct):
    import hashlib
    import math

    seen, chunks_by_doc = {}, {}
    for r in sorted(pdf.itertuples(), key=lambda r: r.doc_id):
        toks = r.text.split(" ")
        chunks = [
            " ".join(toks[i * ct : i * ct + ct])
            for i in range(math.ceil(len(toks) / ct))
        ]
        chunks_by_doc[r.doc_id] = chunks
        for pos, ch in enumerate(chunks):
            seen.setdefault(ch, (r.doc_id, pos))
    out = {}
    for doc_id, chunks in chunks_by_doc.items():
        kept = [c for p, c in enumerate(chunks) if seen[c] == (doc_id, p)]
        out[doc_id] = (
            len(chunks),
            len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


@given(corpus())
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_chunk_dedup_matches_python_model(spark, pdf):
    from feast_hive_spark.operators import corpus as C

    df = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["clean_fp"])
        for r in C.chunk_dedup(df, "doc_id", "text", chunk_tokens=2).collect()
    }
    assert got == py_chunk_dedup(pdf, 2)


def py_span_stats(pdf, k):
    from collections import Counter

    wins = {}
    for r in pdf.itertuples():
        toks = r.text.split(" ")
        wins[r.doc_id] = [
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        ]
    freq = Counter(w for ws in wins.values() for w in ws)
    return {
        d: (len(ws), sum(1 for w in ws if freq[w] > 1))
        for d, ws in wins.items()
    }


@given(corpus())
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_span_dup_stats_matches_python_model(spark, pdf):
    from feast_hive_spark.operators import corpus as C

    df = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
        for r in C.span_dup_stats(df, "doc_id", "text", span_tokens=3).collect()
    }
    assert got == py_span_stats(pdf, 3)


def test_containment_matches_brute_force_random(spark):
    """Property: the inverted-index containment equals the definition
    |A∩B|/|A| computed brute-force on the shingle sets, for random
    corpora with overlapping token pools (fixed seeds)."""
    import numpy as np

    from feast_hive_spark.operators import dedup as D

    rng = np.random.default_rng(12)
    pool = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        n = int(rng.integers(5, 25))
        docs.append(" ".join(rng.choice(pool, n)))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(40), "text": docs})
    )
    got = {
        (r["id_small"], r["id_big"]): r["containment"]
        for r in D.containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }

    def shingles(t):
        toks = t.lower().split()
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    exp = {}
    ss = [shingles(t) for t in docs]
    for i in range(40):
        for j in range(40):
            if i == j or not ss[i]:
                continue
            c = len(ss[i] & ss[j]) / len(ss[i])
            if c >= 0.5:
                exp[(i, j)] = round(c, 6)
    assert set(got) == set(exp)
    for k in got:
        assert abs(got[k] - exp[k]) < 1e-6


@pytest.mark.slow
@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(corpus())
def test_collapse_equivalence_property(spark, pdf):
    """Random tiny corpora (duplicates arise naturally from the small
    vocabulary): the exact-duplicate pre-collapse paths of minhash,
    simhash, and winnowing must be bit-identical to their uncollapsed
    twins — the r8 scale fix is a pure execution-strategy change."""
    df = spark.createDataFrame(pdf)
    for fn, kw in (
        (D.minhash_lsh_pairs, {}),
        (D.simhash_pairs, {}),
        (D.winnowing_overlap_pairs, {"min_shared": 1, "max_doc_freq": 2}),
        (D.winnowing_overlap_pairs, {"min_shared": 1, "max_doc_freq": None}),
    ):
        raw = sorted(
            tuple(r)
            for r in fn(df, "doc_id", "text", collapse_exact=False, **kw).collect()
        )
        col = sorted(
            tuple(r)
            for r in fn(df, "doc_id", "text", collapse_exact=True, **kw).collect()
        )
        assert raw == col, (fn.__name__, kw)


def py_dup_spans(pdf, k):
    """Member-level brute force of duplicate_spans: merge runs of
    k-gram start positions whose gram occurs >= 2 times corpus-wide
    (every doc x position counted, within-doc repeats included)."""
    from collections import Counter

    toks = {
        r.doc_id: re.split(r"\s+", r.text.lower()) for r in pdf.itertuples()
    }
    cnt = Counter()
    for w in toks.values():
        for i in range(len(w) - k + 1):
            cnt[" ".join(w[i : i + k])] += 1
    spans = set()
    for d, w in toks.items():
        dup = [
            i
            for i in range(len(w) - k + 1)
            if cnt[" ".join(w[i : i + k])] >= 2
        ]
        i = 0
        while i < len(dup):
            j = i
            while j + 1 < len(dup) and dup[j + 1] == dup[j] + 1:
                j += 1
            spans.add((d, dup[i], dup[j] - dup[i] + k))
            i = j + 1
    return spans


def py_strip(pdf, k):
    """Member-level brute force of strip_duplicate_spans: a token
    drops iff covered by >= 1 duplicated k-gram and by zero k-grams
    whose FIRST corpus occurrence (min (doc_id, pos)) is here."""
    from collections import Counter

    toks = {
        r.doc_id: re.split(r"\s+", r.text.lower()) for r in pdf.itertuples()
    }
    cnt = Counter()
    first = {}
    for d in sorted(toks):
        w = toks[d]
        for i in range(len(w) - k + 1):
            g = " ".join(w[i : i + k])
            cnt[g] += 1
            first.setdefault(g, (d, i))
    out = {}
    for d, w in toks.items():
        cov_all, cov_first = set(), set()
        for i in range(len(w) - k + 1):
            g = " ".join(w[i : i + k])
            if cnt[g] >= 2:
                cov_all.update(range(i, i + k))
                if first[g] == (d, i):
                    cov_first.update(range(i, i + k))
        rm = cov_all - cov_first
        clean = " ".join(t for i, t in enumerate(w) if i not in rm)
        out[d] = (clean, len(w), len(rm))
    return out


@pytest.mark.slow
@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(corpus())
def test_duplicate_spans_property(spark, pdf):
    from feast_hive_spark.plans import memo

    memo.clear()
    got = D.duplicate_spans(
        spark.createDataFrame(pdf), "doc_id", "text", k=3
    ).toPandas()
    assert (
        set(zip(got.doc_id, got.span_start, got.span_len))
        == py_dup_spans(pdf, 3)
    )


@pytest.mark.slow
@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(corpus())
def test_strip_duplicate_spans_property(spark, pdf):
    from feast_hive_spark.plans import memo

    memo.clear()
    got = D.strip_duplicate_spans(
        spark.createDataFrame(pdf), "doc_id", "text", k=3
    ).toPandas()
    exp = py_strip(pdf, 3)
    assert {
        r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
        for r in got.itertuples()
    } == exp
