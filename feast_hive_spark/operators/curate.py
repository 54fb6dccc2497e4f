"""Corpus-curation operators: deterministic train/val/test splits,
stratified sampling, and forbidden-term scrubbing.

These are the bookkeeping steps of a training-data pipeline that must
be REPRODUCIBLE across runs, engines, and cluster sizes — so every
random choice here is an md5-derived hash of row identity (the repo's
cross-engine ``H48`` primitive, functions/text.py), never an RNG.
That makes each operator a pure, shuffle-free map (split, scrub) or a
single keyed shuffle (exact stratified sample), and lets DuckDB twins
hash-gate them exactly.

Scale notes (100 TB):
- ``hash_split`` is stateless per-row — no shuffle, no state, and the
  assignment of a given id never changes when the corpus grows; new
  docs land in splits at the configured rates.
- ``stratified_sample`` exact mode shuffles on the stratum key; a
  dominant stratum (e.g. 90 % English) serializes that stratum's sort
  into one task. ``mode="hash"`` is the scale path: a stateless
  per-row hash-threshold filter with expected (not exact) per-stratum
  fractions and zero shuffles.
- ``scrub_terms`` is one regexp pass inside whole-stage codegen.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_hive_spark.functions.text import h48
from feast_hive_spark.plans.local import local_frame

#: basis-point resolution for hash-derived fractions (1/10000)
_BP = 10000


def _bucket(id_col: str, salt: str) -> Column:
    """Deterministic [0, _BP) bucket of a row id under a salt."""
    return F.pmod(
        h48(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(_BP),
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    fracs: Sequence[float] = (0.9, 0.05, 0.05),
    names: Sequence[str] = ("train", "val", "test"),
    salt: str = "split",
) -> DataFrame:
    """Append a ``split`` column assigning each row to a named split.

    Buckets ``H48(salt ':' id) mod 10000`` against cumulative
    fraction thresholds. Deterministic in the id alone: re-runs,
    repartitioning, and corpus growth never move an existing row
    between splits (the property that keeps eval sets uncontaminated
    across dataset versions)."""
    if len(fracs) != len(names):
        raise ValueError("fracs and names must align")
    if abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(f"fracs must sum to 1, got {sum(fracs)}")
    b = _bucket(id_col, salt)
    expr = F.lit(names[-1])
    cum = 0.0
    thresholds = []
    for frac in fracs[:-1]:
        cum += frac
        thresholds.append(int(round(cum * _BP)))
    for name, thr in zip(reversed(names[:-1]), reversed(thresholds)):
        expr = F.when(b < thr, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    frac: float,
    id_col: str,
    mode: str = "exact",
    salt: str = "strat",
) -> DataFrame:
    """Keep a deterministic ``frac`` of rows per stratum.

    ``mode="exact"``: rank rows within each stratum by hash and keep
    the first ``ceil(frac * n)`` — exactly reproducible counts, one
    shuffle on the stratum key (skew-sensitive: a dominant stratum
    sorts in one task).

    ``mode="hash"``: keep rows whose hash bucket clears
    ``frac * 10000`` — a stateless filter with binomial (expected
    ``frac``) per-stratum counts and NO shuffle; the 100-TB path."""
    if mode == "hash":
        return df.filter(_bucket(id_col, salt) < int(round(frac * _BP)))
    if mode != "exact":
        raise ValueError(f"unknown mode {mode!r}")
    h = _bucket(id_col, salt)
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    wc = Window.partitionBy(strata_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") <= F.ceil(F.lit(frac) * F.col("__n")))
        .drop("__rn", "__n")
    )


def scrub_terms(
    df: DataFrame,
    text_col: str,
    terms: Sequence[str],
    token: str = "[TERM]",
) -> DataFrame:
    """Replace whole-word occurrences of ``terms`` with ``token``.

    Adds ``{text_col}_clean`` and ``n_scrubbed`` (match count before
    replacement). One regexp pass, whole-stage codegen, no Python —
    the shape for lexicon redaction (PII tokens, benchmark strings,
    boilerplate) over an arbitrarily large corpus. Patterns are
    word-boundary alternations, valid in both Java regex and RE2 so
    the DuckDB twin matches byte-for-byte."""
    if not terms:
        raise ValueError("terms must be non-empty")
    pat = r"\b(" + "|".join(terms) + r")\b"
    return df.withColumn(
        f"{text_col}_clean", F.regexp_replace(F.col(text_col), pat, token)
    ).withColumn(
        "n_scrubbed", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    epoch: int,
    salt: str = "epoch",
) -> DataFrame:
    """Deterministic per-epoch global shuffle order for training data.

    Appends ``shuffle_key = H48('{salt}:{epoch}:' || id)``: a
    different, reproducible permutation every epoch with ZERO state —
    any reader that range-partitions + sorts on the key (the z-order
    writer shape, operators/layout.py) streams the epoch's order
    without a driver-side permutation or an RNG seed file. Stateless
    per row, so it composes with splits/sampling and never reshuffles
    rows that filters already dropped."""
    key = h48(
        F.concat(
            F.lit(f"{salt}:{int(epoch)}:"), F.col(id_col).cast("string")
        )
    )
    return df.withColumn("shuffle_key", key)


def negative_samples(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    n_items: int,
    k: int = 5,
    oversample: int = 8,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for recommender/contrastive
    training: per user, ``k`` item ids the user has NOT interacted
    with, drawn by hashing (user, slot) into the item space.  Output:
    ``(user, neg_rank 1..k, item)``.

    Hash-based (no RNG) so re-runs, repartitioning and corpus growth
    reproduce the same negatives — eval contamination can't creep in
    through sampler state.  Plan: ONE shuffle collects each user's
    positive set; candidates explode from a ``sequence`` of
    ``k*oversample`` slots in codegen, are rejected against the
    positive array, deduped (two slots may hash to one item) and
    rank-filtered per user.  Per-group memory = one user's positive
    set, the same bound the training featurizer already needs."""
    pos = (
        interactions.select(
            F.col(user_col).alias("__u"), F.col(item_col).alias("__it")
        )
        .distinct()
        .groupBy("__u")
        .agg(F.collect_set("__it").alias("__pos"))
    )
    slots = pos.select(
        "__u",
        "__pos",
        F.explode(F.sequence(F.lit(0), F.lit(k * oversample - 1))).alias(
            "__slot"
        ),
    )
    cand_item = F.pmod(
        h48(
            F.concat(
                F.lit(salt + ":"),
                F.col("__u").cast("string"),
                F.lit(":"),
                F.col("__slot").cast("string"),
            )
        ),
        F.lit(n_items),
    )
    cands = slots.select(
        "__u", "__slot", cand_item.alias("__item"), "__pos"
    ).filter(~F.array_contains(F.col("__pos"), F.col("__item")))
    first_slot = Window.partitionBy("__u", "__item").orderBy("__slot")
    ranked = (
        cands.withColumn("__dup", F.row_number().over(first_slot))
        .filter(F.col("__dup") == 1)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("__u").orderBy("__slot")
            ),
        )
        .filter(F.col("__rk") <= k)
    )
    return ranked.select(
        F.col("__u").alias(user_col),
        F.col("__rk").cast("long").alias("neg_rank"),
        F.col("__item").cast("long").alias("item"),
    )


def balance_classes(
    df: DataFrame,
    label_col: str,
    id_col: str,
    salt: str = "bal",
    keep_col: str | None = None,
) -> DataFrame:
    """Deterministic class balancing: downsample every label to
    (approximately) the size of the SMALLEST label — the standard
    rebalancing step before training on skewed labels.

    Same machinery as stratified/temperature sampling: per-label keep
    probability ``min_count / n_label`` rounded to basis points, a
    #labels-row broadcast, and acceptance by the stateless md5 ``H48``
    threshold — deterministic per id (stable across reruns and corpus
    growth of OTHER labels), zero data shuffles beyond the tiny stats
    aggregate. The minority label keeps probability 1.

    Returns surviving rows with their original schema (plus the
    basis-point threshold under ``keep_col`` if requested).
    """
    from feast_hive_spark.functions.text import h48

    stats = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("__bc_n"))
    mn = stats.agg(F.min("__bc_n").alias("__bc_min"))
    probs = stats.crossJoin(F.broadcast(mn)).select(
        F.col(label_col),
        F.least(
            F.lit(10000),
            F.round(
                F.col("__bc_min").cast("double") / F.col("__bc_n") * 10000
            ).cast("long"),
        ).alias("__bc_keep_bp"),
    )
    bucket = F.pmod(
        h48(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(10000),
    )
    kept = df.join(F.broadcast(probs), label_col).filter(
        bucket < F.col("__bc_keep_bp")
    )
    if keep_col is not None:
        return kept.withColumnRenamed("__bc_keep_bp", keep_col)
    return kept.drop("__bc_keep_bp")


def leave_last_n_split(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    n_eval: int = 1,
    split_col: str = "split",
) -> DataFrame:
    """Temporal leave-last-n split: per group (user), the last
    ``n_eval`` rows in ``order_cols`` order become the eval split, the
    rest train — the standard leakage-free protocol for sequential
    recommendation / next-event models, where a random split would let
    the model peek at each user's future.

    One group-keyed window; ``order_cols`` must include a unique
    tiebreak so the cut is deterministic cross-engine. Per-group
    membership is bounded by per-user history (the event-sequences
    family's standing assumption — a "user" with a corpus-sized
    history is a bot to filter upstream), so no whale-key hazard.

    Returns the input columns plus ``split_col`` in {'train', 'eval'}.
    """
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return df.withColumn(
        split_col,
        F.when(F.row_number().over(w) <= n_eval, F.lit("eval")).otherwise(
            F.lit("train")
        ),
    )


def stratified_kfold(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    k: int = 5,
    salt: str = "fold",
    fold_col: str = "fold",
) -> DataFrame:
    """Deterministic stratified k-fold assignment: every row gets a
    stable fold in [0, k) from the md5 ``H48`` of its id — the
    cross-validation protocol where each fold preserves the strata mix
    in expectation WITHOUT any shuffle (assignment is a stateless
    per-row hash, stable across reruns and corpus growth).

    ``strata_col`` rides along in the output purely for downstream
    per-(stratum, fold) accounting; the hash deliberately ignores it
    so adding strata never reassigns existing rows.
    """
    fold = F.pmod(
        h48(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(k),
    )
    return df.select(
        F.col(id_col), F.col(strata_col), fold.cast("long").alias(fold_col)
    )


def weighted_sample_wor(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES): each row draws a uniform u in (0, 1]
    from the md5 hash of its id and scores ``ln(u) / w``; the k
    largest scores are the sample — inclusion probability
    proportional to weight, no replacement, and (because u is a pure
    function of the id) reproducible across reruns and engines.

    Distributed shape: the score is a stateless per-row expression
    and the selection is ``orderBy(...).limit(k)`` — Spark's
    TakeOrdered keeps k rows per partition then merges, never a
    global sort. Rows with non-positive weight are excluded (they
    have probability 0 in A-ES).

    Output: the sampled rows with their ``__es_key`` score (useful
    for audit; drop it downstream).
    """
    u = (
        h48(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
        + F.lit(1)
    ).cast("double") / F.lit(float(2**48))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__es_key", key)
        .orderBy(F.col("__es_key").desc(), F.col(id_col))
        .limit(k)
    )


def feature_hash_encode(
    df: DataFrame,
    id_col: str,
    cat_cols: list[str],
    dim: int = 1024,
    salt: str = "fh",
) -> DataFrame:
    """Hashing-trick categorical encoding (Weinberger et al.): each
    ``column=value`` pair maps to ``h48 % dim`` with a sign bit drawn
    from the next hash bit, so collisions cancel in expectation — the
    fixed-width featurizer that needs NO vocabulary pass, no fitted
    state, and no shuffle to encode (the only exchange is the per-id
    sparse aggregation).

    Output: sparse COO rows ``(id, feature_idx, weight)`` with
    exact-zero cancellations dropped. Deterministic: the hash is a
    pure function of (salt, column, value).
    """
    parts = []
    for c in cat_cols:
        h = h48(
            F.concat(
                F.lit(f"{salt}:{c}="), F.col(c).cast("string")
            )
        )
        # stage the hash once; sign comes from the bit just above the
        # index bits (integer div, not float division — exact)
        staged = df.select(F.col(id_col), h.alias("__h"))
        parts.append(
            staged.select(
                F.col(id_col),
                F.pmod(F.col("__h"), F.lit(dim)).alias("feature_idx"),
                (
                    F.pmod(F.expr(f"__h div {dim}"), F.lit(2)) * 2 - 1
                ).alias("__sign"),
            )
        )
    all_rows = parts[0]
    for p in parts[1:]:
        all_rows = all_rows.unionByName(p)
    return (
        all_rows.groupBy(id_col, "feature_idx")
        .agg(F.sum("__sign").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
    )


def greedy_shingle_cover(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    n: int = 3,
) -> DataFrame:
    """Greedy maximum-coverage corpus selection: pick ``k`` documents,
    each round choosing the doc covering the most shingles NOT yet
    covered by earlier picks (ties to the smallest id). This is the
    classic (1 - 1/e)-approximate submodular selection every
    coverage-driven curation pipeline runs — "which k documents carry
    the most distinct content" — and the greedy argmax is exactly the
    facility-location special case.

    Execution: k bounded rounds (k is a small constant — the point of
    the operator); each round is ONE distributed aggregate over the
    anti-joined shingle index (marginal gain per doc), one
    TakeOrdered(1) for the argmax, and the covered set grows by at
    most one doc's shingles — broadcast-sized by construction
    (<= k * max shingles/doc), so the anti-join never shuffles the
    corpus side. The driver holds only the k winners, never data.

    Output: ``(pick_rank, doc_id, new_covered, cum_covered)`` — exact
    integer marginal and cumulative distinct-shingle counts."""
    from feast_hive_spark.functions import text as X
    from feast_hive_spark.plans.memo import plan_memo

    # plan_memo'd cache (r14, r13 ADVICE #2): repeated builds reuse
    # one cached frame instead of accumulating blocks per invocation
    sh = plan_memo(
        df.sparkSession,
        df,
        ("greedy_shingle_cover.sh", id_col, text_col, n),
        lambda: df.select(
            F.col(id_col), X.tokens_array(text_col).alias("__tk")
        )
        .select(
            F.col(id_col),
            F.explode(X.shingle_hashes_from(F.col("__tk"), n)).alias("__h"),
        )
        .distinct()
        .cache(),
    )
    covered = None  # DataFrame of covered __h
    picks = []
    cum = 0
    for r in range(1, k + 1):
        cand = sh if covered is None else sh.join(
            F.broadcast(covered), "__h", "left_anti"
        )
        top = (
            cand.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("__gain"))
            .orderBy(F.col("__gain").desc(), F.col(id_col))
            .limit(1)
            .collect()
        )
        if not top:
            break
        doc, gain = top[0][0], top[0][1]
        cum += gain
        picks.append((r, doc, gain, cum))
        newly = sh.filter(F.col(id_col) == doc).select("__h")
        covered = newly if covered is None else covered.union(newly)
        # materialize the (tiny) covered set so each round's anti-join
        # reads a local table instead of replaying prior rounds
        covered = covered.distinct().localCheckpoint(eager=True)
    sh.unpersist()
    # id column keeps the input's type (string/int/... ids all work)
    schema = T.StructType(
        [
            T.StructField("pick_rank", T.LongType(), False),
            T.StructField(id_col, df.schema[id_col].dataType, True),
            T.StructField("new_covered", T.LongType(), True),
            T.StructField("cum_covered", T.LongType(), True),
        ]
    )
    return local_frame(df.sparkSession, picks, schema)
