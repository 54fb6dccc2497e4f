"""Text-analysis function tests vs pure-Python reimplementations."""

import hashlib
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from feast_hive_spark.functions import text as X
from feast_hive_spark.sources.tables import read_table


@pytest.fixture(scope="module")
def sample(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(50)
    return docs, docs.toPandas()


def h48_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def test_token_counts(spark, sample):
    docs, pdf = sample
    got = docs.select(
        "doc_id", X.token_count_ws("text").alias("ws"), X.token_count_bpe("text").alias("bpe")
    ).toPandas()
    merged = got.merge(pdf[["doc_id", "text"]], on="doc_id")
    for r in merged.itertuples():
        assert r.ws == len(r.text.lower().split()), r.doc_id
    assert (merged.bpe >= merged.ws).all()  # BPE-ish splits punctuation off


def test_fingerprint_matches_python(spark, sample):
    docs, pdf = sample
    got = docs.select("doc_id", X.fingerprint("text").alias("fp")).toPandas()
    merged = got.merge(pdf[["doc_id", "text"]], on="doc_id")
    for r in merged.itertuples():
        norm = " ".join(r.text.lower().split())
        assert r.fp == h48_py(norm), r.doc_id


def test_shingle_hashes_match_python(spark, sample):
    docs, pdf = sample
    got = docs.select("doc_id", X.shingle_hashes_from(X.tokens_array("text"), 3).alias("sh")).toPandas()
    merged = got.merge(pdf[["doc_id", "text"]], on="doc_id")
    for r in merged.itertuples():
        w = r.text.lower().split()
        sh = []
        seen = set()
        for i in range(len(w) - 2):
            s = " ".join(w[i : i + 3])
            if s not in seen:
                seen.add(s)
                sh.append(h48_py(s))
        assert list(r.sh) == sh, r.doc_id


def test_minhash_signature_matches_python(spark, sample):
    docs, pdf = sample
    sigs = docs.select(
        "doc_id",
        X.minhash_signature(
            X.shingle_hashes_from(X.tokens_array("text"), 3)
        ).alias("sig"),
    ).toPandas()
    merged = sigs.merge(pdf[["doc_id", "text"]], on="doc_id")
    for r in merged.itertuples():
        w = r.text.lower().split()
        hs = {h48_py(" ".join(w[i : i + 3])) for i in range(len(w) - 2)}
        exp = [
            min(((h * a + b) % X.MINHASH_MOD for h in hs), default=X.MINHASH_MOD)
            for a, b in X.MINHASH_COEFS
        ]
        assert list(r.sig) == exp, r.doc_id


def test_simhash_matches_python(spark, sample):
    docs, pdf = sample
    got = docs.select("doc_id", X.simhash("text").alias("f")).toPandas()
    merged = got.merge(pdf[["doc_id", "text"]], on="doc_id")
    for r in merged.itertuples():
        hs = [h48_py(t) for t in r.text.lower().split()]
        fp = 0
        for i in range(X.SIMHASH_BITS):
            vote = sum(1 if (h >> i) & 1 else -1 for h in hs)
            if vote >= 0:
                fp |= 1 << i
        assert r.f == fp, r.doc_id


def test_language_id_and_quality(spark, sample):
    docs, pdf = sample
    got = docs.select(
        "doc_id",
        X.language_id("text").alias("lang_pred"),
        X.quality_score("text").alias("q"),
    ).toPandas()
    assert set(got.lang_pred) <= set(X.LANG_ORDER) | {X.LANG_UNKNOWN}
    assert ((got.q >= 0) & (got.q <= 1)).all()


def test_quality_monotone_in_length(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["the cat", "the cat sat on the mat with a hat and a bat"],
        }
    )
    got = (
        spark.createDataFrame(pdf)
        .select("doc_id", X.quality_score("text").alias("q"))
        .toPandas()
        .set_index("doc_id")["q"]
    )
    assert got[2] > got[1]


def test_pack_sequences_semantics(spark):
    """Contiguous greedy packing: global (len desc, id) order, docs
    unsplit, each bin's start offsets within one capacity stride, and
    overrun bounded by one doc."""
    import pandas as pd

    from feast_hive_spark.operators.pack import pack_sequences

    pdf = pd.DataFrame(
        {"doc_id": range(20), "n_tok": [300, 250, 250, 200, 150, 150, 100,
                                        100, 90, 80, 70, 60, 50, 40, 30,
                                        20, 10, 10, 5, 5]}
    )
    got = pack_sequences(
        spark.createDataFrame(pdf.sample(frac=1, random_state=7)),
        "doc_id", "n_tok", capacity=500, num_partitions=4,
    ).toPandas().sort_values(["bin_id", "doc_id"]).reset_index(drop=True)

    assert len(got) == 20 and got.doc_id.nunique() == 20  # unsplit
    # reproduce the contiguous rule in pure python
    order = pdf.sort_values(["n_tok", "doc_id"], ascending=[False, True])
    cum = 0
    expected = {}
    for r in order.itertuples():
        expected[r.doc_id] = cum // 500
        cum += r.n_tok
    assert got.set_index("doc_id")["bin_id"].to_dict() == expected
    # bins overrun by at most one doc
    per_bin = got.groupby("bin_id")["n_tok"].sum()
    assert (per_bin <= 500 + pdf.n_tok.max()).all()


def test_pack_sequences_empty(spark):
    from feast_hive_spark.operators.pack import pack_sequences

    empty = spark.createDataFrame([], "doc_id long, n_tok long")
    assert pack_sequences(empty, "doc_id", "n_tok", capacity=100).count() == 0


def test_pii_redaction_matches_python_re(spark):
    """Spark's Java-regex redaction must agree with Python re on the
    restricted common-subset patterns (which RE2/DuckDB also share)."""
    import re

    from feast_hive_spark.functions import text as X

    fixtures = [
        "reach me at jane.doe+spam@mail.example.co or 10.0.0.1",
        "call +4915123456789 now; backup host 192.168.001.254 ok",
        "no pii here at all",
        "a@b.io x@y.z 1.2.3.4.5 +12 +1234567 999.999.999.999",
        "trailing ip 8.8.8.8",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(fixtures)], "i long, t string")
    got = (
        df.select(
            "i",
            X.redact_pii(F.col("t")).alias("red"),
            X.pii_count(F.col("t"), X.PII_EMAIL_RE).alias("ne"),
            X.pii_count(F.col("t"), X.PII_IPV4_RE).alias("ni"),
            X.pii_count(F.col("t"), X.PII_PHONE_RE).alias("np"),
        )
        .toPandas()
        .set_index("i")
        .sort_index()
    )
    for i, t in enumerate(fixtures):
        exp = t
        for pat, repl in X.PII_PATTERNS:
            exp = re.sub(pat, repl, exp)
        assert got.loc[i, "red"] == exp, (t, got.loc[i, "red"], exp)
        assert got.loc[i, "ne"] == len(re.findall(X.PII_EMAIL_RE, t))
        assert got.loc[i, "ni"] == len(re.findall(X.PII_IPV4_RE, t))
        assert got.loc[i, "np"] == len(re.findall(X.PII_PHONE_RE, t))
