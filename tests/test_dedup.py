"""Dedup operator tests vs pure-Python/numpy oracles at sf0.001."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feast_hive_spark.operators import dedup as D
from feast_hive_spark.sources.tables import read_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def docs_pdf(docs):
    return docs.toPandas()


def python_jaccard_pairs(pdf, n=3, threshold=0.5):
    def sh(t):
        w = t.lower().split()
        return set(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))
    S = {r.doc_id: sh(r.text) for r in pdf.itertuples()}
    ids = sorted(S)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = S[a], S[b]
            if not sa and not sb:
                continue
            j = len(sa & sb) / max(len(sa | sb), 1)
            if j >= threshold:
                out.add((a, b))
    return out


def test_exact_dedup(spark):
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4, 5], "text": ["aa", "bb", "aa", "cc", "bb"]}
    )
    got = D.exact_dedup(spark.createDataFrame(pdf), "doc_id", "text").toPandas()
    by_id = got.set_index("doc_id")["n_copies"]
    assert by_id.to_dict() == {1: 2, 2: 2, 4: 1}

    stats = D.exact_dedup_stats(spark.createDataFrame(pdf), "text").toPandas()
    assert stats.iloc[0].to_dict() == {"n_total": 5, "n_distinct": 3, "n_dup_rows": 2}


def test_ngram_jaccard_matches_python(docs, docs_pdf):
    got = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).toPandas()
    expected = python_jaccard_pairs(docs_pdf)
    assert set(zip(got.id_a, got.id_b)) == expected
    assert (got.jaccard >= 0.5).all()


def test_minhash_lsh_matches_exact(docs, docs_pdf):
    """On this corpus (pairs are either >0.9 or <0.2 Jaccard), banded
    MinHash-LSH must find exactly the exact-Jaccard pair set."""
    got = D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).toPandas()
    expected = python_jaccard_pairs(docs_pdf)
    assert set(zip(got.id_a, got.id_b)) == expected


def test_simhash_finds_near_dups(docs, docs_pdf):
    """Near-dup (Jaccard>0.9) pairs have near-identical bags of words
    -> SimHash hamming distance must be small for most of them."""
    got = D.simhash_pairs(docs, "doc_id", "text", max_hamming=3).toPandas()
    pairs = set(zip(got.id_a, got.id_b))
    planted = python_jaccard_pairs(docs_pdf, threshold=0.9)
    assert planted, "corpus should contain planted near-dups"
    found = sum(1 for p in planted if p in pairs)
    assert found / len(planted) >= 0.8
    assert (got.hamming <= 3).all()


def test_embedding_cosine_matches_numpy(spark, sf_dir):
    """Default (block) strategy equals an independent numpy oracle."""
    emb = read_table(spark, sf_dir, "embeddings")
    got = D.embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.45).toPandas()
    pdf = emb.toPandas()
    V = np.array(pdf.embedding.tolist(), dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1)[:, None]
    C = Vn @ Vn.T
    ids = pdf.vec_id.to_numpy()
    expected = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if round(C[i, j], 6) >= 0.45:
                expected.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    assert set(zip(got.id_a, got.id_b)) == expected


def test_embedding_cosine_block_equals_broadcast(spark, sf_dir):
    """The distributed block-pair join and the broadcast small-side
    fallback produce identical (pair, cosine) sets."""
    emb = read_table(spark, sf_dir, "embeddings")
    block = D.embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.45, strategy="block"
    ).toPandas()
    bcast = D.embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.45, strategy="broadcast"
    ).toPandas()
    key = lambda f: sorted(zip(f.id_a, f.id_b, f.cosine))  # noqa: E731
    assert key(block) == key(bcast)
    assert len(block) > 0


def test_embedding_cosine_lsh_subset_recall(spark, sf_dir):
    """LSH-bucketed mining: precision 1 (every emitted pair is a true
    above-threshold pair with the exact cosine) and high recall at this
    scale; deterministic hyperplanes make the numbers reproducible."""
    emb = read_table(spark, sf_dir, "embeddings")
    exact = D.embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.45
    ).toPandas()
    lsh = D.embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.45, strategy="lsh"
    ).toPandas()
    exact_pairs = dict(((a, b), c) for a, b, c in zip(exact.id_a, exact.id_b, exact.cosine))
    lsh_pairs = dict(((a, b), c) for a, b, c in zip(lsh.id_a, lsh.id_b, lsh.cosine))
    assert set(lsh_pairs) <= set(exact_pairs)  # precision 1
    for p, c in lsh_pairs.items():
        assert c == exact_pairs[p]  # exact verify, not approximate scores
    recall = len(lsh_pairs) / max(len(exact_pairs), 1)
    # marginal-similarity corpus (all pairs in 0.45-0.52); the analytic
    # recall 1-(1-p^4)^12 at p~0.65 is ~0.9 - assert a safe floor
    assert recall >= 0.7, f"recall {recall}"


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A stop-phrase shared by every document must not make everything
    a candidate pair once the document-frequency cap is on, while
    genuinely near-duplicate pairs survive."""
    import pandas as pd

    stop = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut"
    )  # 14 words -> 12 hot shingles per doc
    uniq = [
        f"document number {i} talks about topic-{i} entity-{i} fact-{i} "
        f"item-{i} widget-{i}"
        for i in range(30)
    ]
    texts = [f"{stop} {u}" for u in uniq]
    texts.append(texts[0])  # planted exact near-dup of doc 0
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    planted = {(0, 30)}

    uncapped = D.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.2).toPandas()
    un_pairs = set(zip(uncapped.id_a, uncapped.id_b))
    # the stop phrase alone pushes unrelated docs over the threshold
    assert len(un_pairs - planted) > 100

    capped = D.ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.2, max_doc_freq=10
    ).toPandas()
    pairs = set(zip(capped.id_a, capped.id_b))
    assert planted <= pairs  # genuine near-dup survives
    # stop-phrase-only overlap is capped out of the index entirely
    assert pairs - planted == set()


def test_connected_components_chain(spark):
    """Multi-hop chains must converge to one component (propagation
    depth > 1), disjoint components stay separate, a self-pair is its
    own component, and exactly one canonical survivor is flagged per
    component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 4), (30, 30)],
        "id_a long, id_b long",
    )
    got = (
        D.connected_components_star(pairs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    comp = got.set_index("doc_id")["component_id"].to_dict()
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 20: 1, 10: 10, 11: 10, 30: 30}
    canon = got[got.is_canonical].doc_id.tolist()
    assert sorted(canon) == [1, 10, 30]


def test_star_components_chain_and_rounds(spark):
    """Large-star/small-star must label a DEEP chain correctly in
    O(log N) rounds — the regime where plain min-label propagation
    needs N rounds (a 64-chain exceeds its default max_iters budget
    entirely).  Also checks a disjoint component and canonical flags
    survive the contraction."""
    n = 64
    rows = [(i, i + 1) for i in range(1, n)] + [(100, 101), (101, 102)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    star, rounds = D._star_components(pairs, "id_a", "id_b", max_iters=50)
    star.unpersist()
    # diameter-63 chain: log2(63) ~ 6 contraction rounds (+1 to
    # observe the fixpoint), vs 63 rounds for plain propagation
    assert rounds <= 10
    for thresh in (200_000, 0):  # driver fast path AND distributed path
        got = (
            D.connected_components_star(pairs, small_graph_threshold=thresh)
            .toPandas()
            .set_index("doc_id")
            .sort_index()
        )
        assert (got.loc[1:n, "component_id"] == 1).all()
        assert (got.loc[100:102, "component_id"] == 100).all()
        assert sorted(got[got.is_canonical].index.tolist()) == [1, 100]


def test_decontaminate_containment(spark):
    """A benchmark doc fully embedded in a longer training doc must be
    caught by containment even when Jaccard stays low."""
    bench_text = "the quick brown fox jumps over the lazy dog"
    long_train = (
        "prologue words here and more filler text before the payload "
        + bench_text
        + " plus a long epilogue with many additional unrelated tokens "
        "continuing on and on to dilute the jaccard measure far below "
        "any reasonable pair threshold for this planted example"
    )
    train = spark.createDataFrame(
        [(1, long_train), (2, "completely unrelated content about spark plans")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = D.decontaminate(train, bench, "doc_id", "text", threshold=0.5).toPandas()
    assert got.train_id.tolist() == [1]
    assert got.containment.iloc[0] == 1.0  # fully embedded
    assert got.jaccard.iloc[0] < 0.5  # jaccard alone would have missed it


def test_embedding_cosine_edge_cases(spark):
    """Empty and single-row corpora: every strategy returns an empty
    pair set without erroring (block path's P sizing, LSH bucketing,
    and broadcast kernel all degenerate safely)."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    one = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    for strategy in ("block", "lsh", "broadcast"):
        for df in (empty, one):
            got = D.embedding_cosine_pairs(
                df, "vec_id", "embedding", threshold=0.5, strategy=strategy
            ).toPandas()
            assert len(got) == 0, (strategy, df.count())


def test_prefix_jaccard_equals_inverted_index(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    plain = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.prefix_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    assert plain == pref and len(pref) > 0


def test_prefix_index_is_smaller(spark, sf_dir):
    # the prefix index must hold strictly fewer postings than the full
    # inverted index at t=0.5 (roughly half, by the prefix-length bound)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from feast_hive_spark.functions import text as X

    docs = read_table(spark, sf_dir, "documents")
    with_sh = docs.select(
        F.col("doc_id"), X.tokens_array("text").alias("__tk")
    ).select(F.col("doc_id"), X.shingle_hashes_from(F.col("__tk"), 3).alias("__sh"))
    full = with_sh.select(F.explode("__sh")).count()
    exploded = with_sh.select(
        "doc_id", F.size("__sh").alias("__sz"), F.explode("__sh").alias("__h")
    )
    freq = exploded.groupBy("__h").agg(F.count(F.lit(1)).alias("__f"))
    w = Window.partitionBy("doc_id").orderBy(F.col("__f").asc(), F.col("__h").asc())
    pref = (
        exploded.join(freq, "__h")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("__sz") - F.ceil(0.5 * F.col("__sz")) + 1)
        .count()
    )
    assert pref < 0.6 * full


def test_containment_directionality(spark):
    """A short doc fully embedded in a long one must pass as
    (short contained-in long) and NOT the reverse; Jaccard at the
    same threshold misses it entirely."""
    import pandas as pd

    from feast_hive_spark.operators import dedup as D

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"filler{i}" for i in range(60))
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [short, long]})
    )
    got = D.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8
    ).collect()
    assert [(r["id_small"], r["id_big"]) for r in got] == [(1, 2)]
    assert got[0]["containment"] == 1.0
    jac = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8
    ).count()
    assert jac == 0  # the union swallows the overlap


def test_guarded_candidates_small_and_overflow_paths(spark, monkeypatch):
    """Both guard paths must return identical pair sets: the small case
    runs one probe job and re-broadcasts a driver-local copy (a
    LocalRelation), the overflow case hands back the distributed plan
    unhinted (the r6 scale-harness OOM fix) and memoizes a marker,
    never the rows it threw away."""
    from feast_hive_spark.plans import memo

    monkeypatch.setattr(memo, "_MEMO", [])
    cand = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, "guarded candidates probe")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    small, n_small = jobs(
        "guarded_small", lambda: D._guarded_candidates(cand, threshold=10)
    )
    assert n_small == 1
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan")
    rows_small = sorted(tuple(r) for r in small.collect())
    over, n_over = jobs(
        "guarded_over", lambda: D._guarded_candidates(cand, threshold=2)
    )
    assert n_over == 1
    rows_over = sorted(tuple(r) for r in over.collect())
    assert rows_small == rows_over == [(1, 2), (2, 3), (3, 4), (4, 5)]
    # overflow path must NOT have collected/replaced the plan: it is
    # the same DataFrame object, with no broadcast hint applied
    assert over is cand
    assert len(memo._MEMO) == 2 and memo._MEMO[-1][-1] is None


def test_simhash_pairs_survive_heavy_duplication(spark):
    """10-way duplicated corpus (the r6 scale-harness shape) must not
    rely on an unguarded candidate broadcast; force the overflow path
    with a tiny threshold and check pairs still verify exactly."""
    base = [(i, f"alpha beta gamma delta epsilon doc{i % 3}") for i in range(3)]
    rows = [(cid * 100 + i, t) for cid in range(10) for (i, t) in base]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import feast_hive_spark.operators.dedup as dd
    orig = dd._guarded_candidates
    dd._guarded_candidates = lambda cand, threshold=None: orig(cand, threshold=1)
    try:
        got = dd.simhash_pairs(df, "doc_id", "text", max_hamming=3)
        n_guarded = got.count()
    finally:
        dd._guarded_candidates = orig
    # every copy of the same text pairs with every other copy
    assert n_guarded >= 10 * 9 // 2 * 3


def test_winnowing_guarantee_and_density(spark):
    # MOSS guarantee: two docs sharing a run of window+n-1 = 6 tokens
    # must share >= 1 fingerprint; and winnowing selects a strict
    # subset of the shingle set at roughly 2/(window+1) density
    from feast_hive_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_overlap_pairs,
    )

    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six seven"),
            (2, f"red green blue {shared} cyan magenta yellow"),
            (3, "totally unrelated words with nothing in common here"),
            (4, "tiny doc"),  # < n tokens: no shingles, no fingerprints
            (5, "just three words"),  # exactly one shingle -> 1 fp
        ],
        "doc_id int, text string",
    )
    fp = winnowing_fingerprints(docs, "doc_id", "text").collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["fph"])
    assert by_doc[1] & by_doc[2], "shared 6-token run must collide"
    assert 4 not in by_doc
    assert len(by_doc[5]) == 1
    pairs = winnowing_overlap_pairs(
        docs, "doc_id", "text", min_shared=1
    ).collect()
    assert any(
        (p["id_a"], p["id_b"]) == (1, 2) for p in pairs
    )
    assert not any(3 in (p["id_a"], p["id_b"]) for p in pairs)


def test_winnowing_density_bound(spark, sf_dir):
    from feast_hive_spark.operators.dedup import winnowing_fingerprints
    from feast_hive_spark.functions import text as X
    from feast_hive_spark.sources.tables import read_table
    import pyspark.sql.functions as F

    docs = read_table(spark, sf_dir, "documents")
    n_sh = docs.select(
        F.sum(F.greatest(F.size(X.words("text")) - 2, F.lit(0)))
    ).first()[0]
    n_fp = winnowing_fingerprints(docs, "doc_id", "text").count()
    # 2/(w+1) = 0.4 expected density; distinct-per-doc collapses a bit
    assert 0.2 * n_sh < n_fp < 0.55 * n_sh


# --- exact-collapse equivalence (r8: the second-decade scale fix) ---------

@pytest.fixture(scope="module")
def dup_corpus(spark):
    """Adversarial corpus for collapse-vs-raw equivalence: 8-way exact
    duplicate clusters (the quadratic multiplier the collapse removes),
    near-dup variants, an empty doc, a sub-n doc, and singletons."""
    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        "the quick brown fox jumps over the lazy dog tonight",
        "completely different words having nothing shared anywhere here",
        "",            # no tokens: no shingles, no simhash fingerprint
        "two words",   # < n tokens: empty shingle set
    ]
    rows = []
    for ci, t in enumerate(base):
        for k in range(8 if ci < 2 else 2):
            rows.append((ci * 100 + k, t))
    rows.append((999, "a lone singleton document with its own text entirely"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_collapse_equivalence(dup_corpus):
    raw = D.minhash_lsh_pairs(
        dup_corpus, "doc_id", "text", collapse_exact=False
    )
    col = D.minhash_lsh_pairs(
        dup_corpus, "doc_id", "text", collapse_exact=True
    )
    assert raw.schema == col.schema
    assert _sorted_rows(raw) == _sorted_rows(col)
    assert len(_sorted_rows(col)) >= 2 * (8 * 7 // 2)  # within-cluster pairs


def test_simhash_collapse_equivalence(dup_corpus):
    raw = D.simhash_pairs(dup_corpus, "doc_id", "text", collapse_exact=False)
    col = D.simhash_pairs(dup_corpus, "doc_id", "text", collapse_exact=True)
    assert raw.schema == col.schema
    assert _sorted_rows(raw) == _sorted_rows(col)


@pytest.mark.parametrize("max_doc_freq", [None, 3])
def test_winnowing_collapse_equivalence(dup_corpus, max_doc_freq):
    """Both the exact and the df-capped path: the capped hot set must be
    computed on FULL-corpus document frequency (8-way clusters push df
    past the cap even though only one distinct text carries the fp)."""
    raw = D.winnowing_overlap_pairs(
        dup_corpus, "doc_id", "text", min_shared=1,
        max_doc_freq=max_doc_freq, collapse_exact=False,
    )
    col = D.winnowing_overlap_pairs(
        dup_corpus, "doc_id", "text", min_shared=1,
        max_doc_freq=max_doc_freq, collapse_exact=True,
    )
    assert raw.schema == col.schema
    assert _sorted_rows(raw) == _sorted_rows(col)
    if max_doc_freq == 3:
        # the cap must actually bite on this corpus (df=8 > 3) so the
        # equivalence is exercised, not vacuous
        assert _sorted_rows(col) != _sorted_rows(
            D.winnowing_overlap_pairs(
                dup_corpus, "doc_id", "text", min_shared=1,
                max_doc_freq=None, collapse_exact=True,
            )
        )


def test_minhash_band_sweep_monotone(docs):
    """More bands can only ADD collisions (a pair agreeing on an 8-row
    band agrees on both nested 4-row bands), so candidate counts are
    monotone in bands; precision is a <=1e6 micro ratio; true pairs
    are config-invariant upper-bounded by candidates."""
    out = {r["bands"]: r for r in D.minhash_band_sweep(
        docs, "doc_id", "text").collect()}
    assert set(out) == {2, 4, 8}
    assert out[2]["n_candidates"] <= out[4]["n_candidates"] <= out[8]["n_candidates"]
    for r in out.values():
        assert 0 <= r["n_true"] <= r["n_candidates"]
        assert 0 <= r["precision_micro"] <= 1_000_000


def test_minhash_collapse_equivalence_threshold_zero(dup_corpus):
    """threshold <= 0 edge (r8 advice): identical empty-shingle texts
    pair at jaccard 0.0 in the RAW pipeline (sentinel signatures
    collide, 0.0 >= 0.0) — the collapse path must emit them too."""
    raw = D.minhash_lsh_pairs(
        dup_corpus, "doc_id", "text", threshold=0.0, collapse_exact=False
    )
    col = D.minhash_lsh_pairs(
        dup_corpus, "doc_id", "text", threshold=0.0, collapse_exact=True
    )
    assert raw.schema == col.schema
    assert _sorted_rows(raw) == _sorted_rows(col)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in col.collect()}
    # within-group pairs of the empty-text and sub-n clusters, at 0.0
    assert got[(400, 401)] == 0.0
    assert got[(500, 501)] == 0.0
    # cross-group sentinel collision: empty text x sub-n text, at 0.0
    assert got[(400, 500)] == 0.0


def test_minhash_band_sweep_frees_caches(spark, dup_corpus):
    """The sweep caches the shared shingle/signature frames; both must
    be unpersisted before return (r8 advice: bench loops rebuild the
    sweep repeatedly, leaked blocks accumulate). Only the eager
    len(configs)-row readout checkpoint may remain."""
    jsc_sc = spark.sparkContext._jsc.sc()
    before = jsc_sc.getPersistentRDDs().size()
    out = D.minhash_band_sweep(dup_corpus, "doc_id", "text")
    assert out.count() == 3
    after = jsc_sc.getPersistentRDDs().size()
    assert after - before <= 1


def test_ckpt_release_frees_checkpoint_blocks(spark, dup_corpus):
    """r10 (r9 advice #5): the sweep's eager readout checkpoint is
    invisible to clearCache and otherwise waits on GC timing;
    registry.reset(spark) must return persistent-RDD storage to the
    pre-build baseline, and a rebuild after it gives the same answer."""
    from feast_hive_spark import registry

    jsc_sc = spark.sparkContext._jsc.sc()
    registry.reset(spark)  # drain frames tracked by earlier tests
    before = jsc_sc.getPersistentRDDs().size()
    out = D.minhash_band_sweep(dup_corpus, "doc_id", "text")
    rows = sorted(map(tuple, out.collect()))
    assert len(rows) == 3
    assert jsc_sc.getPersistentRDDs().size() >= before + 1
    assert registry.reset(spark) >= 1
    assert jsc_sc.getPersistentRDDs().size() <= before
    again = D.minhash_band_sweep(dup_corpus, "doc_id", "text")
    assert sorted(map(tuple, again.collect())) == rows
    registry.reset(spark)


def test_cc_collapsed_matches_member_level(spark):
    """r11 exact-collapse CC: connected_components_collapsed must be
    BIT-identical to connected_components_star over the member-level
    ngram_jaccard_pairs output, on a corpus with every collapse edge
    case: a 3-way exact-dup class bridging to a 2-way class (one
    component spanning classes), an eligible dup class with NO
    cross-class pair (own component), a sub-n-token dup class (never
    pairs -> absent), singletons with and without pairs."""
    from feast_hive_spark.operators.dedup import (
        connected_components_collapsed,
        connected_components_star,
        ngram_jaccard_pairs,
    )
    from feast_hive_spark.plans import memo

    base = "alpha beta gamma delta epsilon zeta eta theta"
    near = "alpha beta gamma delta epsilon zeta eta iota"
    isolated_dup = "completely different shared duplicate text body"
    docs = [
        (1, base), (2, base), (3, base),
        (4, near), (5, near),
        (6, "alpha beta gamma delta epsilon zeta theta eta"),
        (7, isolated_dup), (8, isolated_dup),
        (9, "xy"), (10, "xy"),
        (11, "totally unrelated singleton document words"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    memo.clear()
    member_pairs = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.5
    )
    exp = {
        (r.doc_id, r.component_id, r.is_canonical)
        for r in connected_components_star(member_pairs).collect()
    }
    memo.clear()
    got = {
        (r.doc_id, r.component_id, r.is_canonical)
        for r in connected_components_collapsed(
            df, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert got == exp
    nodes = {r[0] for r in got}
    # fixture sanity: the interesting branches are actually exercised
    assert {1, 2, 3}.issubset(nodes), "dup class missing"
    assert {7, 8}.issubset(nodes), "own-component dup class missing"
    comp78 = {c for d, c, _ in got if d in (7, 8)}
    assert comp78 == {7}, "isolated dup class must self-label at min id"
    assert 9 not in nodes and 10 not in nodes, "sub-n-gram class leaked in"
    assert 11 not in nodes, "edgeless singleton leaked in"
    # distributed star path must agree too
    memo.clear()
    got_dist = {
        (r.doc_id, r.component_id, r.is_canonical)
        for r in connected_components_collapsed(
            df, "doc_id", "text", n=3, threshold=0.5,
            small_graph_threshold=0,
        ).collect()
    }
    assert got_dist == exp
    memo.clear()


def test_duplicate_spans_fixture(spark):
    """Adversarial fixture for the k-gram-anchor duplicate-span
    operator (r12): cross-doc shared span, exact-duplicate class
    (whole doc = one span via class multiplicity), within-doc repeat
    (two spans in one doc), and an isolated doc with no spans."""
    from feast_hive_spark.operators.dedup import (
        duplicate_span_stats,
        duplicate_spans,
    )
    from feast_hive_spark.plans import memo

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x x a b c d e f g h zz"),
        (3, "m n o p q r s t u"),
        (4, "m n o p q r s t u"),
        (5, "p q r s t u v w z9 p q r s t u v w"),
        (6, "totally distinct words with no duplication at all here ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    memo.clear()
    got = {
        (r.doc_id, r.span_start, r.span_len)
        for r in duplicate_spans(df, "doc_id", "text", k=8).collect()
    }
    assert got == {
        (1, 0, 8),
        (2, 2, 8),
        (3, 0, 9),
        (4, 0, 9),
        (5, 0, 8),
        (5, 9, 8),
    }
    st = duplicate_span_stats(df, "doc_id", "text", k=8).collect()[0]
    assert (
        st.n_docs_with_spans,
        st.n_spans,
        st.dup_tokens,
        st.max_span_len,
    ) == (5, 6, 50, 9)


def test_duplicate_spans_empty_and_short(spark):
    """Docs shorter than k tokens produce no anchors; a corpus with no
    duplication produces zero spans and an all-zero stats row."""
    from feast_hive_spark.operators.dedup import (
        duplicate_span_stats,
        duplicate_spans,
    )
    from feast_hive_spark.plans import memo

    df = spark.createDataFrame(
        [(1, "too short"), (2, "also brief"), (3, "one two three four")],
        "doc_id long, text string",
    )
    memo.clear()
    assert duplicate_spans(df, "doc_id", "text", k=8).count() == 0
    st = duplicate_span_stats(df, "doc_id", "text", k=8).collect()[0]
    assert (
        st.n_docs_with_spans,
        st.n_spans,
        st.dup_tokens,
        st.max_span_len,
    ) == (0, 0, 0, 0)


def test_strip_duplicate_spans_fixture(spark):
    """strip_duplicate_spans: every duplicated k-gram keeps its first
    (doc_id, pos) occurrence; tokens covered only by non-first
    duplicates drop. Covers: canonical holder untouched, cross-doc
    strip, exact-dup member cleaning to empty while the rep survives,
    within-doc repeat, and the overlap case (a doc holding BOTH a
    redundant and a canonical anchor whose coverages overlap — the
    canonical coverage must protect the kept copy)."""
    from feast_hive_spark.operators.dedup import strip_duplicate_spans
    from feast_hive_spark.plans import memo

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x x a b c d e f g h zz"),
        (3, "m n o p q r s t u"),
        (4, "m n o p q r s t u"),
        (5, "p q r s t u v w z9 p q r s t u v w"),
        (6, "totally distinct words with no duplication at all here ok"),
        (7, "a b c d e f g h tail7a tail7b"),
        (8, "zz c d e f g h tail7a tail7b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    memo.clear()
    got = {
        r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
        for r in strip_duplicate_spans(df, "doc_id", "text", k=8).collect()
    }
    assert got == {
        1: ("a b c d e f g h i j", 10, 0),
        2: ("x x zz", 11, 8),
        3: ("m n o p q r s t u", 9, 0),
        4: ("", 9, 9),
        5: ("p q r s t u v w z9", 17, 8),
        6: (rows[5][1], 10, 0),
        7: ("c d e f g h tail7a tail7b", 10, 2),
        8: ("zz", 9, 8),
    }


def test_duplicate_spans_prefilter_collision_proof(spark):
    """Collision proof for the r13 two-stage anchors (r12 verdict
    What's-wrong #2): inject a DEGENERATE stage-1 pre-filter hash —
    every k-gram collides with every other — and assert all three
    span-family outputs are BYTE-IDENTICAL to the real xxhash64
    pre-filter's. Under the old single-stage 48-bit design this worst
    case flags every anchor position as duplicated (and strip deletes
    the whole corpus); under the two-stage design the text-equality
    verification stage alone determines duplication, so the hash can
    NEVER fabricate a span at any corpus size."""
    import feast_hive_spark.operators.dedup as D
    from feast_hive_spark.plans import memo
    from pyspark.sql import functions as F

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x x a b c d e f g h zz"),
        (3, "m n o p q r s t u"),
        (4, "m n o p q r s t u"),
        (5, "every token here is globally unique q1 q2 q3 q4 q5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run_all():
        memo.clear()
        spans = sorted(
            tuple(r)
            for r in D.duplicate_spans(df, "doc_id", "text", k=8).collect()
        )
        stats = tuple(
            D.duplicate_span_stats(df, "doc_id", "text", k=8).collect()[0]
        )
        strip = sorted(
            tuple(r)
            for r in D.strip_duplicate_spans(
                df, "doc_id", "text", k=8
            ).collect()
        )
        return spans, stats, strip

    real = run_all()

    def degenerate(tok, k):
        # all positions share hash 0 — total collision
        return F.when(
            F.size(tok) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(tok) - k),
                lambda i: F.lit(0).cast("long"),
            ),
        ).otherwise(F.array().cast("array<long>"))

    orig = D._anchor_prefilter_hashes
    D._anchor_prefilter_hashes = degenerate
    try:
        collided = run_all()
    finally:
        D._anchor_prefilter_hashes = orig
        memo.clear()

    assert collided == real
    # sanity: the corpus does contain real duplication (non-vacuous)
    assert real[0], "fixture must produce spans"
    # and doc 5 (globally unique tail) must NOT be flagged even when
    # every one of its anchors hash-collides with everything
    assert all(doc != 5 for doc, _, _ in real[0])
    assert all(doc != 5 for doc, _, _ in collided[0])
