"""Deduplication operators over document tables (SURVEY §7).

Five dedup families, each designed around its 100 TB shape:

- **exact** — hash-groupBy on the text (one shuffle on md5(text), not
  on the raw text bytes: the shuffle key is 16 bytes instead of the
  document).
- **n-gram Jaccard** — exact pairwise similarity, but candidates come
  from an *inverted shingle index* (explode + self-join on shingle
  hash), never a cross join: only documents sharing >=1 shingle meet.
- **MinHash + LSH** — fixed-size signatures (16 hashes), banded into
  4 buckets; candidate pairs share a band bucket; exact Jaccard
  verification restores precision. The classic sub-quadratic path.
- **SimHash** — 48-bit fingerprint; pigeonhole banding on four 12-bit
  bands guarantees recall for hamming distance <= 3; verification by
  bit_count(xor).
- **embedding cosine** — exact pairs via a distributed block-pair
  join (no driver collect), plus a sign-LSH bucketed approximate path
  for the near-dup regime and a broadcast small-side fallback.

All of it is built-in-function DataFrame code (no Python UDFs); every
operator has a DuckDB oracle twin computed with the same constants
(functions/text.py) so the correctness gate hash-matches pairs."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feast_hive_spark import ckpt
from feast_hive_spark.functions import text as X
from feast_hive_spark.functions import vector as V
from feast_hive_spark.plans.local import local_frame
from feast_hive_spark.plans.memo import job_memo, plan_memo


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's parallelism when the input has
    fewer partitions (e.g. one small parquet file -> 1 partition).

    The text-hashing pipelines are CPU-bound; without this every md5/
    shingle evaluation of a single-file table runs in ONE task while
    31 cores idle. Sizing uses the scan's file count (a pure-metadata
    lookup) rather than ``df.rdd.getNumPartitions()``, which would pay
    a full RDD conversion just to count partitions. A many-file table
    on a real cluster is left untouched; the rare false positive (one
    huge splittable file) costs one extra shuffle of a scan that was
    about to be md5-hashed anyway."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plan: size unknown, spread it
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


# --- exact --------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Representative row per distinct text: min(id) wins.

    Shuffle key is md5(text) (16 bytes) rather than the document body —
    at 100 TB this is the difference between shuffling hashes and
    shuffling the corpus."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("__th"))
        .groupBy("__th")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
    )


def exact_dedup_stats(df: DataFrame, text_col: str) -> DataFrame:
    """1-row corpus summary: total rows, distinct texts, duplicate rows."""
    return df.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col(text_col)))).alias(
            "n_dup_rows"
        ),
    )


# --- shared pair verification -------------------------------------------

# ~3 MB of (long, long) rows on the driver — same ceiling as the CC
# small-graph probe
_CANDIDATE_BROADCAST_ROWS = 200_000
# Past this many candidate rows the broadcast side is pinned instead of
# left a LocalRelation. Catalyst re-plans a LocalRelation row by row on
# every execution, ~2 us a row: at sf0.1 dedup_jaccard_prefix's 124,800
# candidates added ~0.21 s of planning per run (warm exec median 0.98 ->
# 1.29 s over 4 interleaved rounds, 4 CPUs), while a checkpointed scan
# plans in ~10 ms for one build job. The other guarded queries probe
# <= ~1,000 rows and run faster as a LocalRelation.
_LOCAL_CANDIDATE_ROWS = 10_000


def _guarded_candidates(candidates: DataFrame, threshold: int = _CANDIDATE_BROADCAST_ROWS):
    """Bounded LIMIT-probe guard for candidate-pair broadcasts.

    LSH/banding candidate lists are small by DESIGN, but their size is
    data-dependent: heavy corpus duplication packs buckets, and pairs
    per bucket grow quadratically in bucket occupancy — the r6 scale
    harness (10x corpus, 10-way duplication) grew simhash candidates
    past the driver's broadcast budget and an unguarded
    ``F.broadcast`` hint became an OOM instead of a plan choice.

    Probe with ``limit(threshold+1).toArrow()`` (at most threshold+1
    rows ever ship, as Arrow columns, never as Python rows). Small
    case — the overwhelmingly common one — ships the pairs ONCE and
    re-broadcasts a driver-local copy, so the candidate plan never
    re-executes and the verify joins stay shuffle-free. Overflow case
    falls back to the distributed plan with NO broadcast hint:
    Spark/AQE picks a memory-safe join; the memo keeps only ``None``
    for it, not the rows it threw away."""

    def probe_table():
        table = candidates.limit(threshold + 1).toArrow()
        return table if table.num_rows <= threshold else None

    probe = job_memo(
        candidates.sparkSession,
        candidates,
        ("_guarded_candidates", threshold),
        probe_table,
    )
    if probe is None:
        return candidates
    local = local_frame(candidates.sparkSession, probe, candidates.schema)
    if probe.num_rows > _LOCAL_CANDIDATE_ROWS:
        local = ckpt.track(local.coalesce(1).localCheckpoint(eager=True))
    return F.broadcast(local)


def _exact_collapse(df: DataFrame, id_col: str, text_col: str):
    """Collapse exact duplicates before near-dup pair generation.

    Returns ``(mem, reps, rep_rows)``: the (id, text-md5) membership
    table, one representative (min id, with the group size ``__k``)
    per distinct text, and the representative rows of ``df``.
    Near-dup operators run on ``rep_rows`` only and expand pairs back
    through ``mem`` — the r6 scale harness showed why this matters:
    with 10-way duplicated corpora the shingle self-join grows with
    the SQUARE of duplicate-cluster occupancy (dedup_jaccard_prefix
    went superlinear, exponent 1.35), while distinct-text work plus
    output-sized expansion stays linear. This is the textbook
    pipeline order: exact dedup first, near-dup on distinct texts.

    r14 (r13 verdict #7): session-memoized per (df plan, cols), so
    every collapsed operator over the same corpus shares ONE
    ``rep_rows`` plan object — which is what lets the downstream
    shingle-frame memo (``_shingle_frame``) hit across pipelines
    (e.g. lsh_dedup_quality_report's exact and banded-LSH sides).
    Pure plan construction, no caches and no jobs here."""
    from feast_hive_spark.plans.memo import plan_memo

    def build():
        mem = df.select(
            F.col(id_col).alias("__mid"), F.md5(F.col(text_col)).alias("__th")
        )
        reps = mem.groupBy("__th").agg(
            F.min("__mid").alias("__rep"), F.count(F.lit(1)).alias("__k")
        )
        rep_rows = df.join(
            reps.select(F.col("__rep").alias(id_col)), id_col, "left_semi"
        )
        return mem, reps, rep_rows

    return plan_memo(
        df.sparkSession, df, ("_exact_collapse", id_col, text_col), build
    )


def _expand_collapsed_pairs(
    rep_pairs: DataFrame,
    mem: DataFrame,
    reps: DataFrame,
    sim_col: str,
    within_sim,
    within_eligible_th: DataFrame | None,
) -> DataFrame:
    """Expand representative-level near-dup pairs to member-level.

    Cross-group: every member of ``id_a``'s text group pairs with
    every member of ``id_b``'s at the representatives' similarity
    (identical texts have identical shingle sets, so the value is
    exact, not approximated). Within-group: all C(n, 2) pairs of each
    duplicate group at ``within_sim`` (restricted to groups in
    ``within_eligible_th`` when given — e.g. Jaccard requires a
    non-empty shingle set; two identical sub-n-gram texts never pair
    in the uncollapsed pipeline either). When ``within_eligible_th``
    carries a ``__wsim`` column, each group's pairs take THAT value
    instead of the scalar ``within_sim`` — used by minhash at
    ``threshold <= 0``, where identical empty-shingle texts pair at
    jaccard 0.0 in the uncollapsed pipeline (sentinel signatures
    collide). Join volume is output-sized — linear in emitted pairs,
    never corpus-quadratic."""
    a = reps.select(F.col("__rep").alias("id_a"), F.col("__th").alias("__tha"))
    b = reps.select(F.col("__rep").alias("id_b"), F.col("__th").alias("__thb"))
    mema = mem.select(F.col("__mid").alias("__ma"), F.col("__th").alias("__tha"))
    memb = mem.select(F.col("__mid").alias("__mb"), F.col("__th").alias("__thb"))
    cross = (
        rep_pairs.join(a, "id_a")
        .join(b, "id_b")
        .join(mema, "__tha")
        .join(memb, "__thb")
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            F.col(sim_col),
        )
    )
    wa = mem.select(F.col("__mid").alias("__wa"), "__th")
    wb = mem.select(F.col("__mid").alias("__wb"), "__th")
    within = wa.join(wb, "__th").filter(F.col("__wa") < F.col("__wb"))
    sim_expr = F.lit(within_sim)
    if within_eligible_th is not None:
        if "__wsim" in within_eligible_th.columns:
            within = within.join(within_eligible_th, "__th")
            sim_expr = F.col("__wsim")
        else:
            within = within.join(within_eligible_th, "__th", "left_semi")
    within = within.select(
        F.col("__wa").alias("id_a"),
        F.col("__wb").alias("id_b"),
        sim_expr.alias(sim_col),
    )
    return cross.unionByName(within)


def _jaccard_pairs(
    with_shingles: DataFrame, candidates: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Join candidate (id_a < id_b) pairs back to shingle sets and keep
    exact Jaccard >= threshold.

    The candidate set is small BY CONSTRUCTION (that is the point of
    LSH banding), so it is broadcast — behind the bounded
    ``_guarded_candidates`` probe so pathological duplication degrades
    to a shuffle join instead of a driver OOM: the verification joins
    stream the corpus-side shingle table with zero shuffles."""
    a = with_shingles.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")
    )
    b = with_shingles.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size(F.array_union("__sh_a", "__sh_b"))
    return (
        _guarded_candidates(candidates)
        .join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_frame(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Session-memoized CACHED (id, shingle-hash array) table (r14,
    r13 verdict #7): the tokenize + shingle-hash projection is the
    shared front of the ngram-Jaccard and MinHash pipelines, and a
    query that runs both (lsh_dedup_quality_report: exact recall
    denominator + banded-LSH candidates) used to build and cache it
    TWICE — two full corpus scans/tokenizations. Keyed on the input
    plan, so both sides of such a query (which receive the same
    memoized ``rep_rows`` object from ``_exact_collapse``) read one
    InMemoryRelation. Rows are (id, array<long>) — shingle-volume
    sized, the same frame each pipeline already cached per call."""
    from feast_hive_spark.plans.memo import plan_memo

    return plan_memo(
        df.sparkSession,
        df,
        ("_shingle_frame", id_col, text_col, n),
        lambda: _spread(df.select(id_col, text_col))
        .select(F.col(id_col), X.tokens_array(text_col).alias("__tk"))
        .select(
            F.col(id_col),
            X.shingle_hashes_from(F.col("__tk"), n).alias("__sh"),
        )
        .cache(),
    )


# --- n-gram Jaccard (inverted-index exact) ------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """Exact near-dup pairs via inverted shingle index + count-only
    Jaccard.

    explode(shingle hash) -> self-join on the hash -> groupBy pair
    counting shared shingles. Because the shingle sets are distinct,
    ``|A ∩ B|`` is exactly that count, and
    ``J = inter / (|A| + |B| - inter)`` needs no array materialization
    at all — the verify step is a pure count aggregation (measured 4x
    faster than the array_intersect re-join at sf0.1).

    Scale shape: the self-join shuffles (shingle_hash, doc_id) pairs —
    linear in corpus shingle volume, never quadratic in docs. Hot
    shingles (stop-phrases) are the skew risk: one shingle appearing in
    d documents contributes d^2 join rows, so a single stop-phrase can
    turn one partition quadratic at 100x. ``max_doc_freq`` caps that:
    shingles occurring in more than this many documents are dropped
    from the *index* (the small hot set is broadcast-anti-joined away)
    while set sizes keep counting them, making the reported Jaccard a
    lower bound for pairs whose overlap leaned on stop-phrases — which
    is precisely the similarity signal the cap is meant to discount.
    ``None`` (default) keeps the operator exact; AQE skew-join
    splitting still spreads moderate hot keys. ``collapse_exact``
    (default) collapses exact-duplicate texts first and expands pairs
    back at the end (``_exact_collapse``) — identical output, and
    duplicate clusters stop inflating the shingle self-join
    quadratically."""
    if collapse_exact:
        mem, reps, rep_rows = _exact_collapse(df, id_col, text_col)
        rep_pairs = ngram_jaccard_pairs(
            rep_rows, id_col, text_col, n, threshold, max_doc_freq,
            collapse_exact=False,
        )
        eligible_th = rep_rows.filter(
            F.size(X.tokens_array(text_col)) >= n
        ).select(F.md5(F.col(text_col)).alias("__th"))
        return _expand_collapsed_pairs(
            rep_pairs, mem, reps, "jaccard", 1.0, eligible_th
        )
    with_sh = _shingle_frame(df, id_col, text_col, n)
    sizes = with_sh.select(F.col(id_col), F.size("__sh").alias("__n"))
    exploded = with_sh.select(id_col, F.explode("__sh").alias("__h"))
    if max_doc_freq is not None:
        hot = (
            exploded.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("__h")
        )
        exploded = exploded.join(F.broadcast(hot), "__h", "left_anti")
    left = exploded.select(F.col(id_col).alias("id_a"), "__h")
    right = exploded.select(F.col(id_col).alias("id_b"), "__h")
    inter = (
        left.join(right, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("__inter").cast("double")
                / F.greatest(
                    F.col("__na") + F.col("__nb") - F.col("__inter"), F.lit(1)
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _collapse_bundle(df: DataFrame, id_col: str, text_col: str,
                     n: int, threshold: float):
    """Session-memoized exact-collapse bundle shared by every
    collapsed near-dup consumer (r11): ``(mem, rk, rep_pairs, elig)``
    where ``mem`` is the (member id, text-md5) membership table
    (cached), ``rk`` the class table (rep = min member id, size k;
    cached), ``rep_pairs`` the REP-level ngram-Jaccard pair list
    behind a lazy localCheckpoint (ckpt-tracked — the shingle
    self-join, the expensive stage, runs ONCE per session however
    many consumers ask), and ``elig`` the (__node, __th) set of
    shingle-eligible duplicate classes (k >= 2, >= n tokens — the
    only classes whose members pair within-class). Collapsed CC,
    collapsed PageRank and the member-level pair expansion all
    derive from this one bundle."""
    from feast_hive_spark import ckpt

    spark = df.sparkSession

    def build():
        # r14: derive from the session-shared _exact_collapse plan
        # objects (mem/reps/rep_rows are the SAME frames every other
        # collapsed operator sees, so the shingle-frame memo keyed on
        # rep_rows hits across pipelines); the bundle still owns the
        # caching decision for its multi-consumer frames.
        mem0, reps0, rep_rows = _exact_collapse(df, id_col, text_col)
        mem = mem0.cache()
        rk = reps0.select(
            F.col("__th"), F.col("__rep").alias("__node"), F.col("__k")
        ).cache()
        rep_pairs = ckpt.track(
            ngram_jaccard_pairs(
                rep_rows, id_col, text_col, n, threshold,
                collapse_exact=False,
            ).localCheckpoint(eager=False)
        )
        elig = (
            rep_rows.join(
                rk.filter(F.col("__k") >= 2)
                .select(F.col("__node").alias(id_col)),
                id_col,
                "left_semi",
            )
            .filter(F.size(X.tokens_array(text_col)) >= n)
            .select(
                F.col(id_col).alias("__node"),
                F.md5(F.col(text_col)).alias("__th"),
            )
        )
        return (mem, rk, rep_pairs, elig)

    return plan_memo(
        spark,
        df,
        ("near_dup_collapse_bundle", id_col, text_col, n, repr(threshold)),
        build,
    )


def near_dup_member_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Member-level near-dup pairs derived from the shared collapse
    bundle: identical output to ``ngram_jaccard_pairs`` (the
    expansion is the same ``_expand_collapsed_pairs`` machinery), but
    the rep-level pair list comes from the session-shared checkpoint,
    so a consumer that also runs collapsed CC / PageRank never
    re-executes the shingle self-join. Restricting the within-group
    eligibility set to k >= 2 classes is exact: singleton groups
    produce no within pairs either way."""
    mem, rk, rep_pairs, elig = _collapse_bundle(
        df, id_col, text_col, n, threshold
    )
    reps = rk.select("__th", F.col("__node").alias("__rep"))
    return _expand_collapsed_pairs(
        rep_pairs, mem, reps, "jaccard", 1.0, elig.select("__th")
    )


def connected_components_collapsed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_iters: int = 50,
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """Connected components of the near-dup pair graph with an
    exact-collapse pre-pass — bit-identical to
    ``connected_components_star(ngram_jaccard_pairs(df, ...))``
    without ever materializing the member-level edge set (the r11
    pagerank collapse applied to CC; the member pairs grow with the
    SQUARE of duplicate-cluster occupancy, ~110x per copy decade).

    Why it's exact: members of one exact-duplicate class are pairwise
    connected (Jaccard 1, when the class is shingle-eligible) and
    share every external neighborhood, so a class is contained in one
    component, and — because the collapse representative is the MIN
    member id — the component's min member id equals the min rep id.
    CC therefore runs on the REP-level pair graph; eligible classes
    of size >= 2 with no cross-class pair form their own component
    (they have member-level edges but no rep-level pair, so they are
    appended explicitly as self-components); members inherit their
    class's label through the membership table.

    Output contract matches connected_components_star: one row
    (id_col, component_id, is_canonical) for every member that
    appears in >= 1 member-level pair — which is exactly: members of
    eligible classes of size >= 2, plus members of classes whose rep
    has a cross-class pair. Sub-n-token texts never pair (empty
    shingle sets), so their classes are excluded entirely — the same
    nodes the uncollapsed pipeline excludes. Memoized per (df plan,
    params)."""
    spark = df.sparkSession
    return plan_memo(
        spark,
        df,
        (
            "connected_components_collapsed", id_col, text_col, n,
            repr(threshold), max_iters, small_graph_threshold,
        ),
        lambda: _cc_collapsed_build(
            df, id_col, text_col, n, threshold, max_iters,
            small_graph_threshold,
        ),
    )


def _cc_collapsed_build(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_iters: int,
    small_graph_threshold: int,
) -> DataFrame:
    mem, rk, rep_pairs, elig = _collapse_bundle(
        df, id_col, text_col, n, threshold
    )
    rep_cc = connected_components_star(
        rep_pairs, "id_a", "id_b", max_iters, small_graph_threshold
    ).select(F.col("doc_id").alias("__node"), "component_id")
    # eligible multi-member classes whose rep has NO cross-class pair:
    # their members are pairwise connected member-level, so they are
    # in the graph as their own component (rep id = min member id)
    own = elig.select("__node").join(
        rep_cc.select("__node"), "__node", "left_anti"
    )
    labels = rep_cc.unionByName(
        own.select("__node", F.col("__node").alias("component_id"))
    )
    out = (
        labels.join(rk.select("__node", "__th"), "__node")
        .join(mem, "__th")
        .select(
            F.col("__mid").alias(id_col),
            "component_id",
            (F.col("__mid") == F.col("component_id")).alias("is_canonical"),
        )
    )
    # materialize the member-level labels (same contract as
    # connected_components_star's eager checkpoint): without this the
    # fan-out joins — including the corpus md5 scan — re-execute on
    # EVERY downstream execution of the result plan
    from feast_hive_spark import ckpt

    return ckpt.track(out.localCheckpoint(eager=False))


def pagerank_near_dup_collapsed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    iters: int = 3,
    damping_pct: int = 85,
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """PageRank over the near-dup pair graph with an exact-collapse
    pre-pass (r10 verdict #2): bit-identical to running
    ``graph.pagerank`` over the member-level
    ``ngram_jaccard_pairs`` output, without ever materializing the
    member-level edge set.

    Why it's exact: members of one exact-duplicate text class have
    IDENTICAL neighborhoods (same shingle set => same Jaccard to
    everything) and identical initial rank, so by induction they hold
    the same rank at every iteration. The member recurrence therefore
    collapses to one value per class with integer edge weights:
    edge D→C weight ``|D|`` (every member of D neighbors every member
    of C), intra-class self-loop weight ``|C| - 1`` (restricted to
    shingle-eligible classes — sub-n-token texts never pair in the
    uncollapsed pipeline), member degree ``Σ incoming weights``, and
    teleport denominator = MEMBER count of participating classes.
    ``graph.pagerank_weighted`` runs that recurrence; ranks fan back
    to members through the membership table (output-sized join).

    Scale shape: the member edge set grows with the SQUARE of
    duplicate-cluster occupancy (measured 109x per corpus decade
    under copy duplication, SCALING.md r10) while the class graph
    grows with DISTINCT texts — the same reason the pair generators
    collapse first. The only member-sized steps left are the initial
    md5 grouping and the final fan-out join."""
    from feast_hive_spark.operators.graph import pagerank_weighted

    # shared collapse bundle (r11): membership, class table, rep-level
    # pair checkpoint and eligibility come from ONE session-memoized
    # build — the shingle self-join never re-executes for this query
    mem, rk, rep_pairs, elig = _collapse_bundle(
        df, id_col, text_col, n, threshold
    )
    ka = rk.select(F.col("__node").alias("id_a"), F.col("__k").alias("__ka"))
    kb = rk.select(F.col("__node").alias("id_b"), F.col("__k").alias("__kb"))
    cross = rep_pairs.select("id_a", "id_b").join(ka, "id_a").join(kb, "id_b")
    e1 = cross.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"),
        F.col("__ka").alias("w"),
    )
    e2 = cross.select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst"),
        F.col("__kb").alias("w"),
    )
    # self-loops only exist for eligible multi-member classes
    self_e = rk.join(elig.select("__node"), "__node").select(
        F.col("__node").alias("src"), F.col("__node").alias("dst"),
        (F.col("__k") - 1).alias("w"),
    )
    edges = e1.union(e2).union(self_e)
    class_ranks = pagerank_weighted(
        edges, "src", "dst", "w", iters, damping_pct,
        small_graph_threshold, node_weights=rk.select("__node", "__k"),
    )
    out = (
        class_ranks.join(
            rk.select(F.col("__node").alias("node"), "__th"), "node"
        )
        .join(mem, "__th")
        .select(F.col("__mid").alias(id_col), "rank_e12")
    )
    # materialize the member-level fan-out (see
    # _cc_collapsed_build): node-sized, lineage-truncating
    from feast_hive_spark import ckpt

    return ckpt.track(out.localCheckpoint(eager=False))


# --- MinHash + LSH ------------------------------------------------------

def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-dup pairs via MinHash signatures + banded LSH.

    Signature: 16 hash-minima over 3-gram shingle hashes (constants in
    functions/text.py). Banding: 4 bands x 4 rows; a pair is a
    candidate iff some band agrees; exact-Jaccard verification gives
    back precision. At 100 TB the only shuffles are (band_key ->
    bucket) and the verification joins — never all-pairs.

    ``collapse_exact`` (default ON) collapses exact-duplicate texts
    before signing and expands pairs back at the end
    (``_exact_collapse`` / ``_expand_collapsed_pairs``). Identical
    texts have identical shingle sets, hence identical MinHash
    signatures: a d-way duplicate cluster agrees on EVERY band and
    contributes d^2/2 candidate pairs per band before the distinct —
    the r7 second-decade harness (100-way clusters) measured the
    uncollapsed path superlinear (exponent 1.11). Collapsing makes
    band work a function of DISTINCT texts and the expansion is
    output-sized. Output identical by construction (identical text
    => identical signature => same candidates, Jaccard 1.0 within
    groups when the shingle set is non-empty, 0.0 when it is empty —
    the latter pairs surface only at ``threshold <= 0``, matching the
    uncollapsed pipeline's sentinel-signature collisions)."""
    if collapse_exact:
        mem, reps, rep_rows = _exact_collapse(df, id_col, text_col)
        rep_pairs = minhash_lsh_pairs(
            rep_rows, id_col, text_col, n, bands, threshold,
            collapse_exact=False,
        )
        # within-group pairs surface in the uncollapsed pipeline at
        # jaccard 1.0 when the shared shingle set is non-empty, and at
        # jaccard 0.0 when it is EMPTY (identical sub-n-token texts:
        # the sentinel signatures collide, every band agrees, and the
        # verify step scores the empty intersection 0.0) — so a group
        # is eligible iff its within-sim clears the threshold.
        eligible_th = rep_rows.select(
            F.md5(F.col(text_col)).alias("__th"),
            F.when(F.size(X.tokens_array(text_col)) >= n, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("__wsim"),
        ).filter(F.col("__wsim") >= F.lit(threshold))
        return _expand_collapsed_pairs(
            rep_pairs, mem, reps, "jaccard", 1.0, eligible_th
        )
    rows_per_band = len(X.MINHASH_COEFS) // bands
    with_sh = _shingle_frame(df, id_col, text_col, n)
    sigs = with_sh.select(
        id_col, X.minhash_signature(F.col("__sh")).alias("__sig")
    )
    # band keys = md5 of each signature slice, all emitted in ONE pass
    # via posexplode (a union of per-band selects would re-evaluate the
    # 16-hash signature once per band per join side); the tiny result
    # (bands rows/doc of (band, 16-byte key)) is cached for the
    # self-join.
    band_keys = []
    for bi in range(bands):
        lo = bi * rows_per_band
        band_keys.append(
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col("__sig")[i].cast("string")
                        for i in range(lo, lo + rows_per_band)
                    ],
                )
            )
        )
    banded = sigs.select(
        id_col, F.posexplode(F.array(*band_keys)).alias("__band", "__bkey")
    ).cache()
    left = banded.select(F.col(id_col).alias("id_a"), "__band", "__bkey")
    right = banded.select(F.col(id_col).alias("id_b"), "__band", "__bkey")
    candidates = (
        left.join(right, ["__band", "__bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_pairs(with_sh, candidates, id_col, threshold)


# --- SimHash ------------------------------------------------------------

def _simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """48-bit SimHash per document via explode + columnar aggregation.

    Rather than evaluating 48 interpreted per-row array-aggregate
    expressions (functions/text.py:simhash — kept as the reference
    implementation), explode tokens to rows and compute the 48 bit
    votes as ordinary SUM(CASE...) aggregates — whole-stage-codegen'd
    hash aggregation with 48 accumulators, one shuffle keyed by doc id.
    Produces the exact same fingerprint."""
    toks = _spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(X.words(text_col)).alias("__t"),
    )
    hashed = toks.select(
        id_col,
        F.conv(F.substring(F.md5("__t"), 1, 12), 16, 10).cast("long").alias("__h"),
    )
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), i) % 2 == 1, 1).otherwise(-1)
            ).alias(f"__v{i}")
            for i in range(X.SIMHASH_BITS)
        ]
    )
    fp = sum(
        [
            F.when(F.col(f"__v{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(1, X.SIMHASH_BITS)
        ],
        F.when(F.col("__v0") >= 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return votes.select(F.col(id_col), fp.cast("long").alias("__fp"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-dup pairs with 48-bit SimHash fingerprints.

    Candidates: pairs sharing at least one of four 12-bit fingerprint
    bands (pigeonhole: <=3 flipped bits cannot touch all 4 bands, so
    recall is exact for hamming <= 3; 4096-way buckets keep random
    collisions ~16x rarer than byte bands). Verification:
    bit_count(xor) — JVM-side intrinsics.

    ``collapse_exact`` (default ON) collapses exact-duplicate texts
    before fingerprinting and expands pairs back at the end. SimHash
    of identical text is identical by definition, so a d-way duplicate
    cluster packs one 4096-way bucket in EVERY band with d members —
    d^2/2 candidate pairs per band before the distinct. The r7
    second-decade harness (100-way clusters, 60M rows) OOM'd an 8g
    driver on the uncollapsed path and exhausted disk via shuffle
    spill at 24g; the downstream ``_guarded_candidates`` probe sits
    after the explosion and cannot help. Collapsing bounds band work
    by DISTINCT texts; the expansion is output-sized. Output is
    identical: identical text => identical fingerprint => hamming 0
    within groups, and cross-group hamming equals the reps'."""
    if collapse_exact:
        mem, reps, rep_rows = _exact_collapse(df, id_col, text_col)
        rep_pairs = simhash_pairs(
            rep_rows, id_col, text_col, max_hamming, collapse_exact=False
        )
        # docs with zero word tokens never receive a fingerprint in
        # the uncollapsed pipeline (explode drops them), so their
        # groups emit no within pairs either.
        eligible_th = rep_rows.filter(
            (F.size(X.words(text_col)) >= 1) & F.lit(max_hamming >= 0)
        ).select(F.md5(F.col(text_col)).alias("__th"))
        return _expand_collapsed_pairs(
            rep_pairs, mem, reps, "hamming", 0, eligible_th
        )
    fp = _simhash_fingerprints(df, id_col, text_col).cache()
    banded = fp.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("__fp"), 12 * bi).bitwiseAND(F.lit(4095))
                    for bi in range(X.SIMHASH_BITS // 12)
                ]
            )
        ).alias("__band", "__bv"),
    )
    left = banded.select(F.col(id_col).alias("id_a"), "__band", "__bv")
    right = banded.select(F.col(id_col).alias("id_b"), "__band", "__bv")
    candidates = (
        left.join(right, ["__band", "__bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = fp.select(F.col(id_col).alias("id_a"), F.col("__fp").alias("__fa"))
    b = fp.select(F.col(id_col).alias("id_b"), F.col("__fp").alias("__fb"))
    # candidate set small by construction -> guarded broadcast verify
    # (heavy duplication packs the 4096-way bands quadratically; the
    # probe degrades that to a shuffle join instead of a driver OOM)
    return (
        _guarded_candidates(candidates)
        .join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- cross-corpus decontamination ---------------------------------------

def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Training-vs-benchmark contamination mining: training docs whose
    n-gram shingle overlap with ANY benchmark doc crosses the
    threshold (the test-set-leakage check every LLM data pipeline
    runs before training).

    Same inverted-index shape as ngram_jaccard_pairs but across TWO
    corpora: explode both sides' shingle hashes, join on the hash —
    candidates are (train, benchmark) doc pairs sharing >=1 shingle,
    never a cross join — then count-only containment + Jaccard.
    ``contain`` is |A∩B| / |B| (share of the *benchmark* doc found in
    the training doc), the decontamination metric of record; rows pass
    on EITHER jaccard or containment crossing the threshold. The
    benchmark corpus is typically tiny next to training data: its
    exploded index broadcasts, so the only shuffle is the pair-count
    aggregate — linear in training shingle volume at 100 TB."""
    # cache both shingle tables: sizes and the exploded index each
    # consume them, and the interpreted HOF shingle evaluation is the
    # expensive part (one pass instead of two)
    t_sh = _spread(train.select(id_col, text_col)).select(
        F.col(id_col).alias("train_id"), X.tokens_array(text_col).alias("__tk")
    ).select(
        "train_id", X.shingle_hashes_from(F.col("__tk"), n).alias("__sh")
    ).cache()
    b_sh = benchmark.select(
        F.col(id_col).alias("bench_id"), X.tokens_array(text_col).alias("__tk")
    ).select(
        "bench_id", X.shingle_hashes_from(F.col("__tk"), n).alias("__sh")
    ).cache()
    t_sizes = t_sh.select("train_id", F.size("__sh").alias("__nt"))
    b_sizes = b_sh.select("bench_id", F.size("__sh").alias("__nb"))
    t_idx = t_sh.select("train_id", F.explode("__sh").alias("__h"))
    b_idx = b_sh.select("bench_id", F.explode("__sh").alias("__h"))
    inter = (
        t_idx.join(F.broadcast(b_idx), "__h")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    jac = F.round(
        F.col("__inter").cast("double")
        / F.greatest(F.col("__nt") + F.col("__nb") - F.col("__inter"), F.lit(1)),
        6,
    )
    contain = F.round(
        F.col("__inter").cast("double") / F.greatest(F.col("__nb"), F.lit(1)), 6
    )
    return (
        inter.join(t_sizes, "train_id")
        .join(F.broadcast(b_sizes), "bench_id")
        .withColumn("jaccard", jac)
        .withColumn("containment", contain)
        .filter(
            (F.col("jaccard") >= threshold) | (F.col("containment") >= threshold)
        )
        .select("train_id", "bench_id", "jaccard", "containment")
    )


# --- near-dup clustering / survivor selection ---------------------------

def _driver_union_find(
    pairs: DataFrame, rows, id_a: str, id_b: str
) -> DataFrame:
    """Union-find over an already-collected (small, guarded) edge
    list; output schema/typing mirrors the distributed paths."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = [(n, find(n)) for n in parent]
    id_type = dict(pairs.dtypes)[id_a]
    labels = local_frame(
        pairs.sparkSession,
        out,
        f"doc_id {id_type}, component_id {id_type}",
    )
    return labels.withColumn(
        "is_canonical", F.col("doc_id") == F.col("component_id")
    )


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the MEMORY_AND_DISK blocks behind a localCheckpoint-ed
    DataFrame.  ``DataFrame.unpersist()`` is a no-op for these — the
    blocks are RDD-level cache on the checkpointed RDD, not registered
    with the CacheManager — so we reach the ``LogicalRDD``'s
    underlying RDD through the JVM plan.  Best effort: on any
    internals mismatch the blocks are simply left to the
    ContextCleaner (freed when the JVM GCs the RDD handle)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _star_components(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_iters: int,
) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014) until the
    edge set reaches a fixpoint.  Returns (star_edges, rounds): at the
    fixpoint every edge is (node, component_min).

    Each round is two groupBy-min + join passes over the *current*
    edge set — the same shuffle primitives as plain min-label
    propagation, but the edge set itself contracts toward stars, so a
    path of length N converges in O(log N) rounds instead of O(N).
    The fixpoint test is a (count, xxhash64-sum) checksum of the edge
    set, which rides the same job that materializes the round's cache
    — no extra pass."""
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("src"),
            F.least(F.col(id_a), F.col(id_b)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .cache()
    )
    # Materialize the cache BEFORE the loop: round 1 reads `edges`
    # from two branches (sym = edges ∪ reversed), and an unmaterialized
    # cache would compute the upstream pair-mining plan once per
    # branch (for a dedup graph that plan is the whole pair-mining
    # pipeline).  Per-round shuffle widths are left to AQE coalescing —
    # the graph is tiny relative to the corpus that produced it.
    edges.count()
    prev = None
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # Large-star: symmetric neighborhoods; every neighbor LARGER
        # than u is re-pointed at min(N(u) ∪ {u}).  Output stays
        # oriented src > dst because the min is ≤ u < v.
        sym = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("__mn"))
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(
                F.col("dst").alias("src"),
                F.least(F.col("__mn"), F.col("src")).alias("dst"),
            )
            .distinct()
        )
        # Small-star: edges are already oriented src > dst, so every
        # u's smaller-neighborhood min is just min(dst); all of u's
        # smaller neighbors plus u itself re-point at it.
        mins2 = large.groupBy("src").agg(F.min("dst").alias("__mn"))
        small = (
            large.join(mins2, "src")
            .filter(F.col("dst") != F.col("__mn"))
            .select(F.col("dst").alias("src"), F.col("__mn").alias("dst"))
            .union(mins2.select("src", F.col("__mn").alias("dst")))
            .distinct()
        )
        # localCheckpoint (not cache): each round's plan references the
        # previous round's edges ~8x through sym/large/small, so WITHOUT
        # lineage truncation the logical plan grows exponentially with
        # the round count and analysis itself blows up.  On a cluster
        # you'd trade this for reliable checkpoint() if executor loss
        # mid-algorithm must be recoverable.
        small = small.localCheckpoint(eager=True)
        # decimal sum: a plain long sum of 64-bit hashes overflows
        # under ANSI mode
        cnt, chk = small.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("src", "dst").cast("decimal(28,0)")),
        ).first()
        # The new round is materialized (eager checkpoint + the
        # checksum job above), so the previous round's blocks can go.
        # Round 1's input is a real .cache() (CacheManager-registered);
        # later rounds are localCheckpoint blocks, which unpersist()
        # cannot see — free the underlying RDD instead.
        if rounds == 1:
            edges.unpersist()
        else:
            _free_local_checkpoint(edges)
        edges = small
        if (cnt, chk) == prev:
            break
        prev = (cnt, chk)
    return edges, rounds


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph + canonical
    survivor selection — the step that turns pairwise dedup output
    into "keep THIS doc, drop those". Output: (doc_id, component_id,
    is_canonical) for every node that appears in a pair;
    component_id = min doc id in the component.

    Algorithm: alternating large-star/small-star contraction, in
    O(log diameter) rounds. Plain min-label propagation moves the
    minimum ONE hop per round, so a path component of length N would
    need N rounds; star contraction halves the effective diameter
    every round, making deep chains safe. This is the only components
    path: the registry's ``dedup_components`` uses it directly or via
    ``connected_components_collapsed``.

    Small-graph fast path: iterative algorithms pay O(rounds) job
    rounds of scheduler+shuffle latency regardless of data size, and a
    DEDUP pair graph is usually minuscule next to the corpus that
    produced it (a 60k-doc sf0.1 corpus yields ~256 edges).  When a
    guarded LIMIT-probe shows at most ``small_graph_threshold`` edges
    (same guardrail pattern as the PIT broadcast threshold — ~few MB
    of driver memory, never unbounded), the edges are collected and
    union-find runs on the driver in microseconds; the distributed
    contraction loop is reserved for graphs that are actually big.
    Set ``small_graph_threshold=0`` to force the distributed path.

    The result is memoized per input plan (plans/memo.py): labels are
    a pure function of the pair graph, and a warm rebuild would
    otherwise replay the probe + every contraction round."""
    return plan_memo(
        pairs.sparkSession,
        pairs,
        (
            "connected_components_star",
            id_a,
            id_b,
            max_iters,
            small_graph_threshold,
        ),
        lambda: _cc_star_build(
            pairs, id_a, id_b, max_iters, small_graph_threshold
        ),
    )


def _cc_star_build(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_iters: int,
    small_graph_threshold: int,
) -> DataFrame:
    if small_graph_threshold:
        # Single bounded probe: LIMIT(threshold+1) caps what can ever
        # ship at threshold+1 two-column rows (~3 MB at the default) no
        # matter how big the graph is — the r4 "huge graph ships MBs
        # just to discard them" hazard stays impossible — while the
        # upstream pair pipeline (often the expensive part: blocked
        # fuzzy joins, shingle joins) executes ONCE, not twice as with
        # the r5 count-probe-then-collect sequence (measured: half the
        # plan-construction cost of dedup_components /
        # entity_resolution_parts / dedup_savings_report).
        probe = (
            pairs.select(F.col(id_a), F.col(id_b))
            .limit(small_graph_threshold + 1)
            .collect()
        )
        if len(probe) <= small_graph_threshold:
            return _driver_union_find(pairs, probe, id_a, id_b)
    star, _ = _star_components(pairs, id_a, id_b, max_iters)
    nodes = (
        pairs.select(F.col(id_a).alias("doc_id"))
        .union(pairs.select(F.col(id_b).alias("doc_id")))
        .distinct()
    )
    # At the fixpoint each non-root node has exactly one star edge to
    # its component min; roots have none and label themselves.
    labels = star.groupBy("src").agg(F.min("dst").alias("__label"))
    out = nodes.join(labels, nodes.doc_id == labels.src, "left").select(
        "doc_id",
        F.coalesce(F.col("__label"), F.col("doc_id")).alias("component_id"),
    ).withColumn(
        "is_canonical", F.col("doc_id") == F.col("component_id")
    )
    # Materialize the node-sized labels, then free the final round's
    # star blocks (a DataFrame.unpersist() here would be a no-op —
    # localCheckpoint blocks aren't CacheManager-registered).
    out = out.localCheckpoint(eager=True)
    _free_local_checkpoint(star)
    return out


# --- embedding cosine ---------------------------------------------------

def cosine_verify_pairs(
    candidates: DataFrame,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Exact cosine for an (id_a, id_b) candidate list.

    The candidate list is small by construction (that is the point of
    bucketing), so it is broadcast — behind the bounded
    ``_guarded_candidates`` probe (heavy duplication can outgrow the
    driver); both vector-attach joins stream the corpus side with zero
    shuffles, then each Arrow batch computes the row-wise normalized
    dot with one vectorized numpy pass."""
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    joined = _guarded_candidates(candidates.select("id_a", "id_b")).join(
        a, "id_a"
    ).join(b, "id_b")

    def mapper(batches):
        for batch in batches:
            if not len(batch):
                continue
            A = V.np_normalize(V.np_matrix(batch["__va"]))
            B = V.np_normalize(V.np_matrix(batch["__vb"]))
            cos = np.round(np.einsum("ij,ij->i", A, B), 6)
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "id_a": batch["id_a"].to_numpy()[keep],
                    "id_b": batch["id_b"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    return joined.mapInPandas(mapper, "id_a long, id_b long, cosine double")


def _broadcast_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Small-side fallback: collect + broadcast the full normalized
    matrix, one matmul per Arrow batch. Fastest kernel when the corpus
    fits on the driver; NOT the default because the collect is a
    driver-OOM scale-killer (see embedding_cosine_pairs)."""
    spark = df.sparkSession
    pdf = df.select(id_col, vec_col).toPandas()
    ids_all = pdf[id_col].to_numpy()
    Mn = V.np_normalize(V.np_matrix(pdf[vec_col]))
    b_ids = spark.sparkContext.broadcast(ids_all)
    b_m = spark.sparkContext.broadcast(Mn)

    def mapper(batches):
        all_ids, All = b_ids.value, b_m.value
        for batch in batches:
            ids = batch[id_col].to_numpy()
            if ids.size == 0 or all_ids.size == 0:
                continue
            Bn = V.np_normalize(V.np_matrix(batch[vec_col]))
            S = np.round(Bn @ All.T, 6)
            rows_i, cols_j = np.nonzero(
                (S >= threshold) & (ids[:, None] < all_ids[None, :])
            )
            yield pd.DataFrame(
                {
                    "id_a": ids[rows_i],
                    "id_b": all_ids[cols_j],
                    "cosine": S[rows_i, cols_j],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        mapper, "id_a long, id_b long, cosine double"
    )


def _block_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Exact all-pairs cosine as a distributed block-pair join.

    Rows are hashed into P blocks; every unordered block pair (p, q)
    meets in exactly one ``applyInPandas`` group, which runs a chunked
    numpy matmul between the two blocks. Nothing is ever collected to
    the driver and no task holds more than two blocks, so the operator
    is bounded by cluster FLOPs, not by any single node: shuffle volume
    is n*P rows (each row visits the P groups containing its block)
    and per-task memory is O(rows_per_block * dim).

    P is the max of a memory bound (blocks of ``rows_per_block``) and a
    parallelism bound (enough ~P^2/2 groups to occupy the cluster)."""
    spark = df.sparkSession
    base = df.select(id_col, vec_col)
    n = base.count()
    if n == 0:
        return local_frame(spark, [], "id_a long, id_b long, cosine double")
    par = spark.sparkContext.defaultParallelism
    P = max(math.ceil(n / rows_per_block), math.ceil(math.sqrt(2.0 * par)))
    P = max(1, min(P, n))
    tagged = (
        base.withColumn(
            "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(P)).cast("int")
        )
        .withColumn("__o", F.explode(F.sequence(F.lit(0), F.lit(P - 1))))
        .withColumn("__p", F.least("__blk", "__o"))
        .withColumn("__q", F.greatest("__blk", "__o"))
    )

    def kernel(key, pdf):
        p, q = int(key[0]), int(key[1])
        ids = pdf[id_col].to_numpy()
        Mn = V.np_normalize(V.np_matrix(pdf[vec_col]))
        if p == q:
            ia, Ma = ids, Mn
            ib, Mb = ids, Mn
        else:
            left = pdf["__blk"].to_numpy() == p
            ia, Ma = ids[left], Mn[left]
            ib, Mb = ids[~left], Mn[~left]
        out = []
        step = 1024
        for s in range(0, len(ia), step):
            S = np.round(Ma[s : s + step] @ Mb.T, 6)
            mask = S >= threshold
            if p == q:
                # same block: each unordered pair appears twice in the
                # matrix; keep the id-ordered half
                mask &= ia[s : s + step, None] < ib[None, :]
            ri, cj = np.nonzero(mask)
            if ri.size:
                # cross block: each unordered pair appears exactly once;
                # label so id_a < id_b
                la, lb = ia[s:][ri], ib[cj]
                out.append(
                    pd.DataFrame(
                        {
                            "id_a": np.minimum(la, lb),
                            "id_b": np.maximum(la, lb),
                            "cosine": S[ri, cj],
                        }
                    )
                )
        if not out:
            return pd.DataFrame(
                {
                    "id_a": np.array([], dtype=np.int64),
                    "id_b": np.array([], dtype=np.int64),
                    "cosine": np.array([], dtype=np.float64),
                }
            )
        return pd.concat(out, ignore_index=True)

    return tagged.groupBy("__p", "__q").applyInPandas(
        kernel, "id_a long, id_b long, cosine double"
    )


def lsh_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine near-dup pairs via multi-table sign-LSH
    bucketing + exact within-candidate verification.

    ``dim`` defaults to inference from the data: the md5-derived
    hyperplanes are a pure function of (n_planes, dim, seed), so every
    batch regenerates the identical planes from the vectors' length —
    no broadcast state and no hardcoded dimensionality.

    Each row gets ``n_tables`` independent ``n_planes``-bit sign
    buckets against deterministic md5-seeded hyperplanes
    (functions/vector.py — the same tables as simsearch.lsh_topk); a
    pair is a candidate iff it shares a bucket in >=1 table, then gets
    the exact cosine (cosine_verify_pairs), so precision is 1 and
    recall is 1-(1-p^planes)^tables with p = 1 - theta/pi.

    This is the 100 TB pair-mining path for the NEAR-DUP regime
    (cosine >= ~0.8, where p^planes is large and buckets prune hard).
    At low thresholds recall decays — by then exactness needs all
    pairs anyway (see embedding_cosine_pairs). Everything is
    deterministic (md5 hyperplanes, fixed data => fixed buckets), so
    the operator has an exact DuckDB twin (vector.py:duck_sign_bucket)
    and is hash-gated despite being approximate."""
    base = _spread(df.select(id_col, vec_col))
    powers = 1 << np.arange(n_planes)

    def make_planes(d: int) -> np.ndarray:
        return np.array(
            [
                row
                for t in range(n_tables)
                for row in V.hyperplanes(n_planes, d, seed=f"t{t}")
            ],
            dtype=np.float64,
        )

    fixed_planes = make_planes(dim) if dim is not None else None

    def bucketer(batches):
        P = fixed_planes
        for batch in batches:
            ids = batch[id_col].to_numpy()
            if ids.size == 0:
                continue
            M = V.np_matrix(batch[vec_col])  # raw: sign(dot) is scale-free
            if P is None:
                P = make_planes(M.shape[1])
            signs = (M @ P.T) >= 0
            buckets = np.stack(
                [
                    signs[:, t * n_planes : (t + 1) * n_planes] @ powers
                    for t in range(n_tables)
                ],
                axis=1,
            )  # (n, n_tables)
            yield pd.DataFrame(
                {
                    "__id": np.repeat(ids, n_tables),
                    "__t": np.tile(np.arange(n_tables), ids.size),
                    "__b": buckets.reshape(-1),
                    # repeat the Arrow cell values by reference — no
                    # per-vector list() materialization (guide §4.2)
                    "__v": np.repeat(batch[vec_col].to_numpy(), n_tables),
                }
            )

    banded = base.mapInPandas(
        bucketer, "__id long, __t int, __b long, __v array<double>"
    )

    # Within-bucket verify (the classic LSH shape): one shuffle keyed
    # by (table, bucket) moves each vector n_tables times, then a
    # chunked matmul inside every bucket emits only the (few)
    # above-threshold pairs — no quadratic candidate materialization,
    # no self-join, no large broadcast. A pair found in k tables
    # appears k times and is collapsed by the (tiny) distinct below.
    # The bucket-local threshold keeps a 1e-9 slack so a razor-edge
    # rounding disagreement with the canonical pass cannot drop a pair;
    # the canonical cosine_verify_pairs applies the exact cut.
    def bucket_kernel(pdf):
        ids = pdf["__id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        Mn = V.np_normalize(V.np_matrix(pdf["__v"]))
        out_a, out_b = [], []
        step = 1024
        for s in range(0, len(ids), step):
            S = np.round(Mn[s : s + step] @ Mn.T, 6)
            mask = (S >= threshold - 1e-9) & (ids[s : s + step, None] < ids[None, :])
            ri, cj = np.nonzero(mask)
            out_a.append(ids[s:][ri])
            out_b.append(ids[cj])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else [],
                "id_b": np.concatenate(out_b) if out_b else [],
            }
        ).astype("int64")

    # r13: one Python invocation per partition instead of per bucket —
    # same exchange, same kernel, ~5 ms/group applyInPandas overhead
    # removed (plans/grouped.py; guide §4.1)
    from feast_hive_spark.plans.grouped import grouped_apply_stream

    candidates = grouped_apply_stream(
        banded, ("__t", "__b"), bucket_kernel, "id_a long, id_b long"
    ).distinct()
    return cosine_verify_pairs(candidates, base, id_col, vec_col, threshold)


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    strategy: str = "block",
) -> DataFrame:
    """Cosine near-dup pairs (id_a < id_b, cosine rounded to 6).

    Strategies:
    - ``block`` (default) — exact distributed block-pair join
      (_block_cosine_pairs): no driver collect, no full-matrix
      broadcast, per-task memory bounded. Exact all-pairs mining at a
      low threshold is inherently O(n^2) FLOPs — no bucketing scheme
      has guaranteed recall for continuous cosine — so the scalable
      exact shape is one that spreads those FLOPs across the cluster
      with nothing materialized on a single node.
    - ``lsh`` — sign-LSH bucketed candidates + exact verify
      (lsh_cosine_pairs): sub-quadratic, the near-dup-regime scale
      path; recall < 1 by construction at low thresholds.
    - ``broadcast`` — the small-side fallback kernel: driver collect +
      full-matrix broadcast; fastest when the corpus comfortably fits
      driver memory, unsafe as a default."""
    if strategy == "block":
        return _block_cosine_pairs(df, id_col, vec_col, threshold)
    if strategy == "lsh":
        return lsh_cosine_pairs(df, id_col, vec_col, threshold)
    if strategy == "broadcast":
        return _broadcast_cosine_pairs(df, id_col, vec_col, threshold)
    raise ValueError(f"unknown strategy: {strategy!r}")


# --- prefix-filtered exact Jaccard (the PPJoin family) ------------------

def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    collapse_exact: bool = True,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin):
    index only each document's rarest ``|d| - ceil(t*|d|) + 1``
    shingles instead of all of them.

    Guarantee: two sets with Jaccard >= t must share at least one
    element within each other's prefix under ANY single global order
    (here: ascending corpus frequency, hash tiebreak — rare-first
    keeps hot shingles OUT of the index entirely, which simultaneously
    kills the stop-phrase skew the plain inverted index suffers).
    Candidates then go through the shared exact verification join, so
    results are IDENTICAL to ngram_jaccard_pairs at the same
    threshold — this is a pure candidate-pruning upgrade: at t=0.5
    the index holds ~half the corpus shingle volume, and its hottest
    keys are by construction the rarest shingles.

    Scale shape: one frequency aggregate (vocabulary-sized), one
    per-doc rank window over the exploded index, the pruned
    self-join, then the broadcast verify. Versus the plain inverted
    index: strictly smaller self-join input and no hot-key partitions,
    at the cost of the extra rank shuffle. ``collapse_exact`` (default)
    first collapses exact-duplicate texts and expands pairs back at
    the end (see ``_exact_collapse``) — identical output, and the
    self-join input shrinks from corpus rows to distinct texts, which
    is what keeps heavily-duplicated corpora linear.

    r13 optimization round (guide §2.3/§3): the candidate join now
    also applies PPJoin's LENGTH filter (J >= t forces
    t*max(|A|,|B|) <= min(|A|,|B|)) and POSITIONAL filter (at a prefix
    match on positions (i, j) under the global order,
    ``1 + min(|A|-i, |B|-j)`` bounds the total overlap; the bound is
    exact for the pair's FIRST common element — both sets are sorted
    by the same global order, so no common element precedes the first
    prefix match — and a true pair therefore passes on at least that
    match). Both are sound candidate prunes (measured 409k -> 125k
    candidates at sf0.1, identical output), applied with a 1e-6
    threshold margin so a pair whose ROUNDED jaccard reaches the
    threshold can never be filter-excluded. The verify step computes
    the union arithmetically (|A|+|B|-inter) instead of materializing
    ``array_union``, and the ranked prefix index is cached — it feeds
    both sides of the self-join."""
    if collapse_exact:
        mem, reps, rep_rows = _exact_collapse(df, id_col, text_col)
        rep_pairs = prefix_jaccard_pairs(
            rep_rows, id_col, text_col, n, threshold, collapse_exact=False
        )
        eligible_th = rep_rows.filter(
            F.size(X.tokens_array(text_col)) >= n
        ).select(F.md5(F.col(text_col)).alias("__th"))
        return _expand_collapsed_pairs(
            rep_pairs, mem, reps, "jaccard", 1.0, eligible_th
        )
    with_sh = _spread(df.select(id_col, text_col)).select(
        F.col(id_col), X.tokens_array(text_col).alias("__tk")
    ).select(
        F.col(id_col), X.shingle_hashes_from(F.col("__tk"), n).alias("__sh")
    ).cache()
    exploded = with_sh.select(
        id_col, F.size("__sh").alias("__sz"), F.explode("__sh").alias("__h")
    )
    freq = exploded.groupBy("__h").agg(F.count(F.lit(1)).alias("__f"))
    w = Window.partitionBy(id_col).orderBy(F.col("__f").asc(), F.col("__h").asc())
    ranked = (
        exploded.join(freq, "__h")
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            F.col("__rn")
            <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1
        )
        .select(id_col, "__h", "__rn", "__sz")
    ).cache()
    # threshold margin: the kept-pair predicate downstream compares
    # round(J, 6) >= t, so a pair with true J >= t - 5e-7 may be kept;
    # every candidate prune below uses te so it can never exclude one.
    te = threshold - 1e-6
    left = ranked.select(
        F.col(id_col).alias("id_a"), "__h",
        F.col("__rn").alias("__ia"), F.col("__sz").alias("__na"),
    )
    right = ranked.select(
        F.col(id_col).alias("id_b"), "__h",
        F.col("__rn").alias("__ib"), F.col("__sz").alias("__nb"),
    )
    min_overlap = F.ceil(
        F.lit(te / (1.0 + te)) * (F.col("__na") + F.col("__nb"))
        - F.lit(1e-6)
    )
    candidates = (
        left.join(right, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("__na", "__nb").cast("double")
            >= F.lit(te) * F.greatest("__na", "__nb")
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("__na") - F.col("__ia"), F.col("__nb") - F.col("__ib")
            )
            >= min_overlap
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = with_sh.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")
    )
    b = with_sh.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    return (
        _guarded_candidates(candidates)
        .join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__i", inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("__i").cast("double")
                / F.greatest(
                    F.size("__sh_a") + F.size("__sh_b") - F.col("__i"),
                    F.lit(1),
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment
    ``C(A in B) = |A ∩ B| / |A|`` — the quote/excerpt detector.
    Jaccard misses a short document wholly embedded in a long one
    (the union dwarfs the overlap); containment flags it at ~1.0 and
    carries DIRECTION: the pair ``(contained, container)`` says which
    side is the excerpt.

    Same scale shape as :func:`ngram_jaccard_pairs` (inverted shingle
    index, count-only overlap, optional hot-shingle cap) — the only
    change is the denominator and emitting both orientations of each
    overlapping pair before the threshold (a short-in-long pair
    passes in one direction and fails the other).

    Output: ``(id_small, id_big, containment)`` where ``id_small``'s
    shingle set is >= ``threshold`` contained in ``id_big``'s.

    r13 optimization round (guide §2.3/§3, the prefix_jaccard_pairs
    pattern adapted to the ASYMMETRIC predicate): on the default
    (uncapped) path the contained side indexes only its rarest
    ``|A| - ceil(te*|A|) + 1`` shingles under the global
    (frequency asc, hash asc) order — C(A in B) >= t forces
    |A∩B| >= ceil(te*|A|) common shingles, and by pigeonhole at
    least one of them sits in that prefix. The container side has no
    prefix bound (any superset qualifies at any alignment), so B
    indexes all its shingles — the join input still drops ~(1-t) of
    the left volume and the rare-first order keeps hot shingles out
    of the contained side entirely. Candidates are pruned further by
    the LENGTH filter (|B| >= ceil(te*|A|): a smaller container
    cannot hold t of A) and the POSITIONAL filter (at the pair's
    first common element — positions (ia, ib) under the shared
    order — inter <= 1 + min(|A|-ia, |B|-ib)), then verified with an
    exact ``array_intersect`` against the cached full shingle sets
    (distinct by construction). All prunes use te = t - 1e-6 so a
    pair whose ROUNDED containment reaches the threshold can never
    be excluded. The capped path keeps the r12 count-only join: its
    declared semantics are "intersection over non-hot shingles",
    which the full-array verify would change.
    """
    with_sh = _spread(df.select(id_col, text_col)).select(
        F.col(id_col), X.tokens_array(text_col).alias("__tk")
    ).select(
        F.col(id_col), X.shingle_hashes_from(F.col("__tk"), n).alias("__sh")
    ).cache()  # feeds sizes + both self-join branches (family idiom)
    sizes = with_sh.select(F.col(id_col), F.size("__sh").alias("__n"))
    if max_doc_freq is not None:
        exploded = with_sh.select(id_col, F.explode("__sh").alias("__h"))
        hot = (
            exploded.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("__h")
        )
        exploded = exploded.join(F.broadcast(hot), "__h", "left_anti")
        left = exploded.select(F.col(id_col).alias("id_small"), "__h")
        right = exploded.select(F.col(id_col).alias("id_big"), "__h")
        inter = (
            left.join(right, "__h")
            .filter(F.col("id_small") != F.col("id_big"))
            .groupBy("id_small", "id_big")
            .agg(F.count(F.lit(1)).alias("__inter"))
        )
        ssml = sizes.select(
            F.col(id_col).alias("id_small"), F.col("__n").alias("__ns")
        )
        return (
            inter.join(ssml, "id_small")
            .withColumn(
                "containment",
                F.round(
                    F.col("__inter").cast("double")
                    / F.greatest(F.col("__ns"), F.lit(1)),
                    6,
                ),
            )
            .filter(F.col("containment") >= threshold)
            .select("id_small", "id_big", "containment")
        )
    exploded = with_sh.select(
        id_col, F.size("__sh").alias("__sz"), F.explode("__sh").alias("__h")
    )
    freq = exploded.groupBy("__h").agg(F.count(F.lit(1)).alias("__f"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("__f").asc(), F.col("__h").asc()
    )
    ranked = (
        exploded.join(freq, "__h")
        .withColumn("__rn", F.row_number().over(w))
        .select(id_col, "__h", "__rn", "__sz")
    ).cache()
    te = threshold - 1e-6
    min_inter = F.ceil(F.lit(te) * F.col("__na") - F.lit(1e-6))
    left = ranked.filter(
        F.col("__rn")
        <= F.col("__sz") - F.ceil(F.lit(te) * F.col("__sz")) + 1
    ).select(
        F.col(id_col).alias("id_small"), "__h",
        F.col("__rn").alias("__ia"), F.col("__sz").alias("__na"),
    )
    right = ranked.select(
        F.col(id_col).alias("id_big"), "__h",
        F.col("__rn").alias("__ib"), F.col("__sz").alias("__nb"),
    )
    candidates = (
        left.join(right, "__h")
        .filter(F.col("id_small") != F.col("id_big"))
        .filter(F.col("__nb") >= min_inter)
        .filter(
            F.lit(1)
            + F.least(
                F.col("__na") - F.col("__ia"), F.col("__nb") - F.col("__ib")
            )
            >= min_inter
        )
        .select("id_small", "id_big")
        .distinct()
    )
    a = with_sh.select(
        F.col(id_col).alias("id_small"), F.col("__sh").alias("__sh_a")
    )
    b = with_sh.select(
        F.col(id_col).alias("id_big"), F.col("__sh").alias("__sh_b")
    )
    return (
        candidates.join(a, "id_small")
        .join(b, "id_big")
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
                / F.greatest(F.size("__sh_a"), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_small", "id_big", "containment")
    )


# ---------------------------------------------------------------------
# Winnowing document fingerprints (MOSS; Schleimer et al., SIGMOD'03)
# ---------------------------------------------------------------------

def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowed fingerprint set per document: positional word
    ``n``-gram hashes, then the minimum hash of every ``window`` of
    consecutive positions (guaranteed-detection fingerprinting — any
    shared run of ``window + n - 1`` tokens shares >=1 fingerprint),
    distinct per doc. Selects ~2/(window+1) of all shingles, which is
    the density the MOSS paper proves optimal for the guarantee.

    Scale shape: tokens are staged as a real column (HOF-lambda CSE
    caveat), the only shuffle is the per-doc window (keyed by id —
    embarrassingly parallel), and downstream consumers join on the
    winnowed set, ~2.5x smaller than the full shingle index. Short
    docs (< window shingles) contribute their single partial window
    (the pos-0 frame), so no document silently drops out.

    Output: ``(id, fph)`` distinct rows.
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col).alias("__id"), X.words(text_col).alias("__w")
    )
    seq = F.when(
        F.size("__w") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("__w") - n),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice("__w", i + F.lit(1), n))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    sh = toks.select("__id", F.posexplode(seq).alias("pos", "h"))
    frame = (
        W.partitionBy("__id").orderBy("pos").rowsBetween(0, window - 1)
    )
    win = sh.select(
        "__id",
        "pos",
        F.min("h").over(frame).alias("mh"),
        F.count(F.lit(1)).over(frame).alias("c"),
    )
    return (
        win.filter((F.col("c") == window) | (F.col("pos") == 0))
        .select(F.col("__id").alias(id_col), F.col("mh").alias("fph"))
        .distinct()
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = 64,
    collapse_exact: bool = True,
) -> DataFrame:
    """Cross-document overlap candidates from winnowed fingerprints:
    inverted-index self-join on the fingerprint hash, pairs sharing
    >= ``min_shared`` fingerprints. The index is ~2.5x smaller than
    the raw shingle index for the same detection guarantee — the
    reason MOSS-style systems winnow before indexing.

    ``max_doc_freq`` (DEFAULT ON, mirroring ``ngram_jaccard_pairs``):
    a fingerprint appearing in d documents contributes d^2 rows to the
    self-join, so one boilerplate header/footer fingerprint shared
    corpus-wide turns the join quadratic at 100 TB. Fingerprints whose
    document frequency exceeds the cap are dropped from the index via
    a broadcast anti-join (the hot set is tiny by construction —
    at most |index| / cap fingerprints can exceed it). Reported
    ``n_shared`` becomes a lower bound for pairs whose overlap leaned
    on boilerplate — exactly the signal the cap is meant to discount.
    Pass ``None`` for the exact (uncapped) semantics; both paths have
    DuckDB oracle twins (`winnowing_overlap_pairs` exact,
    `winnowing_overlap_pairs_capped`).

    ``collapse_exact`` (default ON): identical texts winnow to
    identical fingerprint sets, so a d-way duplicate cluster puts d
    copies of EVERY fingerprint into the index and the self-join grows
    with d^2 — the r7 second-decade harness measured the capped path
    at exponent 0.788 (the df cap alone cannot flatten it: all
    fingerprints of a cluster collide pairwise below any cap that
    preserves recall). Collapsing runs winnowing + the self-join on
    DISTINCT texts and expands pairs back output-sized. Semantics are
    unchanged, including the cap: full-corpus document frequency is
    recovered exactly without per-member fingerprints, because
    df(fph) = sum of duplicate-group sizes over the groups whose text
    contains fph.

    Output: ``(id_a, id_b, n_shared)``.
    """
    if collapse_exact:
        mem, reps, rep_rows = _exact_collapse(df, id_col, text_col)
        # cached: the hot-set aggregate, BOTH self-join sides, and the
        # within-group count all consume the fingerprint index —
        # uncached, the shingle-md5 + window-min + distinct subtree
        # executed 4x per run (4 Window nodes in the before-plan;
        # r13, guide §1.3). Rows are (id, hash) only.
        fp = winnowing_fingerprints(
            rep_rows, id_col, text_col, n, window
        ).cache()
        if max_doc_freq is not None:
            # r14: group sizes come free on the shared reps table
            rep_gs = reps.select(
                F.col("__rep").alias(id_col), F.col("__k").alias("__gs")
            )
            hot = (
                fp.join(rep_gs, id_col)
                .groupBy("fph")
                .agg(F.sum("__gs").alias("__df"))
                .filter(F.col("__df") > max_doc_freq)
                .select("fph")
            )
            fp = fp.join(F.broadcast(hot), "fph", "left_anti").cache()
        a = fp.select(F.col(id_col).alias("id_a"), "fph")
        b = fp.select(F.col(id_col).alias("id_b"), "fph")
        rep_pairs = (
            a.join(b, "fph")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
        # cross-group expansion: every member pair inherits the reps'
        # exact shared count (identical text => identical fp set).
        a_r = reps.select(F.col("__rep").alias("id_a"), F.col("__th").alias("__tha"))
        b_r = reps.select(F.col("__rep").alias("id_b"), F.col("__th").alias("__thb"))
        mema = mem.select(F.col("__mid").alias("__ma"), F.col("__th").alias("__tha"))
        memb = mem.select(F.col("__mid").alias("__mb"), F.col("__th").alias("__thb"))
        cross = (
            rep_pairs.join(a_r, "id_a")
            .join(b_r, "id_b")
            .join(mema, "__tha")
            .join(memb, "__thb")
            .select(
                F.least("__ma", "__mb").alias("id_a"),
                F.greatest("__ma", "__mb").alias("id_b"),
                F.col("n_shared"),
            )
        )
        # within-group pairs share the group's ENTIRE surviving
        # fingerprint set — a per-group count, not a constant, so this
        # expansion is custom rather than _expand_collapsed_pairs.
        th_count = (
            fp.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .join(reps.select(F.col("__rep").alias(id_col), "__th"), id_col)
            .select("__th", "n_shared")
        )
        wa = mem.select(F.col("__mid").alias("__wa"), "__th")
        wb = mem.select(F.col("__mid").alias("__wb"), "__th")
        within = (
            th_count.join(wa, "__th")
            .join(wb, "__th")
            .filter(F.col("__wa") < F.col("__wb"))
            .select(
                F.col("__wa").alias("id_a"),
                F.col("__wb").alias("id_b"),
                F.col("n_shared"),
            )
        )
        return cross.unionByName(within)
    # cached for the same reason as the collapsed branch: hot set +
    # both self-join sides re-execute the fingerprint subtree
    fp = winnowing_fingerprints(df, id_col, text_col, n, window).cache()
    if max_doc_freq is not None:
        hot = (
            fp.groupBy("fph")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("fph")
        )
        fp = fp.join(F.broadcast(hot), "fph", "left_anti")
    a = fp.select(F.col(id_col).alias("id_a"), "fph")
    b = fp.select(F.col(id_col).alias("id_b"), "fph")
    return (
        a.join(b, "fph")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def minhash_band_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    configs: tuple = ((2, 8), (4, 4), (8, 2)),
    threshold: float = 0.5,
    collapse_exact: bool = True,
) -> DataFrame:
    """LSH banding parameter sweep: candidate volume and verified
    precision for several (bands, rows_per_band) splits of ONE
    MinHash signature pass — the tuning readout a pipeline runs
    before committing to an LSH configuration at scale (more bands =
    higher recall + quadratically more candidates; the S-curve
    threshold is (1/b)^(1/r)).

    The corpus is shingled and signed ONCE (cached); each config only
    re-slices the 16-hash signature into band keys, self-joins its
    band buckets, and verifies candidates with exact count-only
    Jaccard. ``collapse_exact`` (default) runs the whole sweep on
    distinct texts — duplicate clusters would otherwise pack every
    band bucket quadratically (the r8 second-decade fix), and the
    candidate/true counts are then reported at DISTINCT-TEXT
    granularity, which is the number that actually drives index
    sizing.

    Output: one row per config —
    ``(bands, rows_per_band, n_candidates, n_true, precision_micro)``
    (precision = verified-at-threshold / candidates, micro-fixed)."""
    if collapse_exact:
        _mem, _reps, rep_rows = _exact_collapse(df, id_col, text_col)
        df = rep_rows
    with_sh = _spread(df.select(id_col, text_col)).select(
        F.col(id_col), X.tokens_array(text_col).alias("__tk")
    ).select(
        F.col(id_col), X.shingle_hashes_from(F.col("__tk"), n).alias("__sh")
    ).cache()
    sigs = with_sh.select(
        id_col, X.minhash_signature(F.col("__sh")).alias("__sig")
    ).cache()
    k = len(X.MINHASH_COEFS)
    per_config = []
    for bands, rows_per_band in configs:
        if bands * rows_per_band != k:
            raise ValueError(
                f"config ({bands}, {rows_per_band}) does not tile the "
                f"{k}-hash signature"
            )
        band_keys = []
        for bi in range(bands):
            lo = bi * rows_per_band
            band_keys.append(
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("__sig")[i].cast("string")
                            for i in range(lo, lo + rows_per_band)
                        ],
                    )
                )
            )
        banded = sigs.select(
            id_col, F.posexplode(F.array(*band_keys)).alias("__band", "__bkey")
        )
        left = banded.select(F.col(id_col).alias("id_a"), "__band", "__bkey")
        right = banded.select(F.col(id_col).alias("id_b"), "__band", "__bkey")
        candidates = (
            left.join(right, ["__band", "__bkey"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        verified = _jaccard_pairs(with_sh, candidates, id_col, threshold)
        stats = candidates.agg(
            F.count(F.lit(1)).alias("n_candidates")
        ).crossJoin(
            F.broadcast(verified.agg(F.count(F.lit(1)).alias("n_true")))
        ).select(
            F.lit(bands).cast("long").alias("bands"),
            F.lit(rows_per_band).cast("long").alias("rows_per_band"),
            F.col("n_candidates").cast("long"),
            F.col("n_true").cast("long"),
            F.expr(
                "CASE WHEN n_candidates > 0 THEN "
                "(n_true * 1000000) div n_candidates ELSE 0 END"
            ).alias("precision_micro"),
        )
        per_config.append(stats)
    out = per_config[0]
    for s in per_config[1:]:
        out = out.unionByName(s)
    # Materialize the len(configs)-row readout eagerly, then free the
    # shared shingle/signature caches — the sweep runs repeatedly
    # under bench loops, and un-released .cache() blocks would
    # accumulate per build (r8 advice finding). The checkpoint blocks
    # themselves are ckpt-tracked (r9 advice: they are invisible to
    # clearCache and otherwise wait on GC timing) — released by
    # feast_hive_spark.registry.reset.
    # NOTE for bench accounting: this query is BUILD-MATERIALIZED —
    # the returned plan scans a local readout, so its real work shows
    # in prepare_cold, and bench.py flags it as such mechanically.
    out = ckpt.track(out.localCheckpoint(eager=True))
    with_sh.unpersist()
    sigs.unpersist()
    return out


def _dup_anchor_positions(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """Shared front half of the duplicate-span family (r12): returns
    ``(dpos, rk, mem)`` where ``dpos`` is the (``__rid``, ``pos``) set
    of anchor positions whose k-token n-gram occurs >= 2 times in the
    MEMBER-level corpus, computed entirely on distinct texts.

    The exact-collapse pre-pass reuses the session bundle's membership
    and class tables (``_collapse_bundle`` with the registry-canonical
    near-dup config — only the param-independent ``mem``/``rk`` halves
    are consumed; the bundle's rep-pair checkpoint is lazy and stays
    unexecuted unless another consumer asks). Global anchor
    multiplicity weights each rep-text occurrence by its class size,
    so a text duplicated d times contributes d occurrences per
    position — exactly the member-level count, including within-doc
    repeats (the Lee et al. 2022 notion: ANY second occurrence makes
    the span a duplicate).

    Scale shape: stage-1 positional anchors are one (rid, pos, h64)
    row per token position of DISTINCT text (linear, the same volume
    class as the shingle index; 8-byte keys, gram text never
    shuffles); the duplicated-hash pre-filter is one hash-keyed
    aggregate + semi join; stage 2 re-materializes gram TEXT at
    candidate positions only and re-counts on the text itself, so the
    result is EXACT — hash collisions can only add stage-1 candidates
    that stage 2 rejects (r13; the r12 48-bit single-stage anchors
    fabricated spans at ~1e13 grams). Nothing is collected. ``dpos``
    (schema ``__rid, pos, __g``) sits behind a session-
    memoized lazy localCheckpoint (the _collapse_bundle protocol) so
    the anchor self-aggregation — the expensive stage — runs ONCE per
    session however many consumers ask (the span table and its stats
    twin share it).
    """
    spark = df.sparkSession
    mem, rk, _, _ = _collapse_bundle(df, id_col, text_col, 3, 0.5)

    def build() -> DataFrame:
        return ckpt.track(
            _dup_anchor_positions_build(
                df, id_col, text_col, k, rk
            ).localCheckpoint(eager=False)
        )

    dpos = plan_memo(
        spark, df, ("dup_anchor_positions", id_col, text_col, k), build
    )
    return dpos, rk, mem


def _anchor_prefilter_hashes(tok, k: int):
    """Stage-1 positional anchor pre-filter hashes (64-bit xxhash64).

    Pluggable seam: tests inject a DEGENERATE hash (everything
    collides) and prove the stage-2 text-equality verification alone
    still yields the exact answer — the collision-proof the 48-bit
    r12 anchors lacked (r12 verdict What's-wrong #2: at ~1e13
    k-grams, birthday collisions fabricated duplicate spans and
    strip would have deleted unique text)."""
    return X.positional_kgram_hashes64(tok, k)


def _dup_anchor_positions_build(
    df: DataFrame, id_col: str, text_col: str, k: int, rk: DataFrame
) -> DataFrame:
    reps = df.join(
        rk.select(F.col("__node").alias(id_col)), id_col, "left_semi"
    )
    toks = reps.select(
        F.col(id_col).alias("__rid"),
        X.tokens_array(text_col).alias("__tok"),
    )
    # STAGE 1 — cheap pre-filter: positional 64-bit anchor hashes, one
    # per start position (NOT distinct — within-doc repeats are
    # duplication evidence here). Only (rid, pos, h) ever shuffles;
    # the ~k-tokens-wide gram TEXT stays map-side.
    anchors = toks.select(
        "__rid",
        F.posexplode(
            _anchor_prefilter_hashes(F.col("__tok"), k)
        ).alias("pos", "__h"),
    )
    wk = rk.select(F.col("__node").alias("__rid"), "__k")
    dup_h = (
        anchors.join(wk, "__rid")
        .groupBy("__h")
        .agg(F.sum("__k").alias("__cnt"))
        .filter(F.col("__cnt") >= 2)
        .select("__h")
    )
    cand = anchors.join(dup_h, "__h", "left_semi").select("__rid", "pos")
    # STAGE 2 — EXACT verification (r13): re-materialize the k-gram
    # TEXT at candidate positions only (ONE token-array copy per
    # candidate doc, not per candidate anchor) and re-count on the
    # text itself with the same class-size weights. Hash collisions
    # can only ADD stage-1 candidates; identical texts always share a
    # hash, so if ANY position of a gram is a candidate then ALL its
    # positions are — the restricted text count IS the global count.
    # The surviving set is therefore hash-free: a position is
    # duplicated iff its k tokens occur >= 2 times (member-weighted)
    # in the corpus. Exact at any corpus size.
    cand_doc = cand.groupBy("__rid").agg(
        F.collect_list("pos").alias("__ps")
    )
    ver = (
        cand_doc.join(toks, "__rid")
        .select(
            "__rid",
            F.explode(
                F.transform(
                    "__ps",
                    lambda p: F.struct(
                        p.alias("pos"),
                        F.concat_ws(
                            " ", F.slice(F.col("__tok"), p + F.lit(1), k)
                        ).alias("__g"),
                    ),
                )
            ).alias("__pg"),
        )
        .select(
            "__rid",
            F.col("__pg.pos").alias("pos"),
            F.col("__pg.__g").alias("__g"),
        )
    )
    dup_g = (
        ver.join(wk, "__rid")
        .groupBy("__g")
        .agg(F.sum("__k").alias("__cnt"))
        .filter(F.col("__cnt") >= 2)
        .select("__g")
    )
    # __g (the verified gram text) rides along for the strip consumer
    # (first-occurrence selection needs the k-gram identity — now the
    # exact identity, not a hash); span/stats ignore it
    return ver.join(dup_g, "__g", "left_semi").select("__rid", "pos", "__g")


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Exact substring-level duplicate-span detection — the
    distributed k-gram-anchor formulation of the suffix-array
    duplicate-text family (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): every duplicated token span
    of length >= k covers duplicated k-gram anchors at each of its
    start positions, so maximal RUNS of duplicated anchor positions
    recover the duplicated spans (runs may splice adjacent duplicate
    sources — the standard, conservative-in-coverage approximation;
    both engines of the oracle pair compute the identical quantity).

    Pipeline: exact-collapse to distinct texts -> positional k-gram
    anchors -> class-size-weighted global occurrence counts (>= 2 =
    duplicated, within-doc repeats included) -> gaps-and-islands run
    merge per rep text (window over the doc's own duplicated
    positions) -> fan the rep spans back through the membership table.

    Output: one row per maximal duplicated span occurrence
    ``(doc_id, span_start, span_len)`` — token offsets, 0-based,
    length in tokens (>= k). No reference counterpart (the reference
    has no dedup at all); this rounds out the LLM-curation dedup
    vocabulary next to the approximate winnowing/fingerprint route.
    """
    dpos, rk, mem = _dup_anchor_positions(df, id_col, text_col, k)
    w = Window.partitionBy("__rid").orderBy("pos")
    spans_rep = (
        dpos.withColumn("__island", F.col("pos") - F.row_number().over(w))
        .groupBy("__rid", "__island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
        )
        .select("__rid", "span_start", "span_len")
    )
    reps = rk.select(F.col("__node").alias("__rid"), "__th")
    return (
        spans_rep.join(reps, "__rid")
        .join(mem, "__th")
        .select(
            F.col("__mid").alias(id_col),
            "span_start",
            "span_len",
        )
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Collapsed stats twin of :func:`duplicate_spans` — the
    corpus-level duplication profile WITHOUT materializing the
    member-level span fan-out (output-sized by construction: 1 row).
    Aggregates at the class level with class-size multiplicities, so
    the numbers equal aggregating the member-level span table.

    Output: ``(n_docs_with_spans, n_spans, dup_tokens,
    max_span_len)`` — documents carrying >= 1 duplicated span, total
    span occurrences, total duplicated-token volume, longest span.
    """
    dpos, rk, _ = _dup_anchor_positions(df, id_col, text_col, k)
    w = Window.partitionBy("__rid").orderBy("pos")
    spans_rep = (
        dpos.withColumn("__island", F.col("pos") - F.row_number().over(w))
        .groupBy("__rid", "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).alias("span_len"),
        )
    )
    per_rep = spans_rep.groupBy("__rid").agg(
        F.count(F.lit(1)).alias("__nsp"),
        F.sum("span_len").alias("__tok"),
        F.max("span_len").alias("__mx"),
    )
    wk = rk.select(F.col("__node").alias("__rid"), "__k")
    return per_rep.join(wk, "__rid").agg(
        F.coalesce(F.sum("__k").cast("long"), F.lit(0)).alias(
            "n_docs_with_spans"
        ),
        F.coalesce(
            F.sum(F.col("__nsp") * F.col("__k")).cast("long"), F.lit(0)
        ).alias("n_spans"),
        F.coalesce(
            F.sum(F.col("__tok") * F.col("__k")).cast("long"), F.lit(0)
        ).alias("dup_tokens"),
        F.coalesce(F.max("__mx").cast("long"), F.lit(0)).alias("max_span_len"),
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """The Lee et al. 2022 ACTION for :func:`duplicate_spans` —
    rewrite the corpus with duplicated regions collapsed to their
    first occurrence.

    Semantics (deterministic, order-free): every duplicated k-gram
    keeps exactly its FIRST member-level occurrence — minimal
    (doc_id, position); a token position is removed iff it is covered
    by >= 1 duplicated anchor and by ZERO first-occurrence anchors of
    its own document. Because the exact-collapse representative is
    the MIN member id, member-level first occurrence reduces to
    rep-level first occurrence: for the rep document the removed set
    is (redundant coverage) minus (canonical coverage) — subtracting
    canonical coverage is what keeps the retained copy intact when a
    kept and a dropped k-gram overlap — and for every other member of
    an exact-duplicate class NO occurrence is first (the rep's is),
    so its entire duplicated coverage drops (an exact-dup doc of
    >= k tokens cleans to the empty string: full deduplication).

    Output: one row per document ``(id, text_clean, n_tokens,
    n_removed)`` — surviving tokens re-joined with single spaces.
    Scale shape: anchors/coverage are linear in distinct-text token
    volume (coverage explosion is k rows per duplicated anchor); the
    per-doc removed-position sets are bounded by doc length; text is
    rebuilt only for distinct texts and fanned out through the
    membership table.
    """
    spark = df.sparkSession
    # share the session anchor checkpoint with the span/stats
    # consumers — the k-gram identity (__g, the verified gram TEXT —
    # exact, not a hash) rides in it for the first-occurrence
    # selection below
    da, rk, mem = _dup_anchor_positions(df, id_col, text_col, k)

    def build() -> DataFrame:
        # canonical occurrence per duplicated k-gram: min (rid, pos)
        canon = da.groupBy("__g").agg(
            F.min(F.struct("__rid", "pos")).alias("__c")
        ).select(
            "__g",
            F.col("__c.__rid").alias("__crid"),
            F.col("__c.pos").alias("__cpos"),
        )
        dac = da.join(canon, "__g").withColumn(
            "__is_first",
            (F.col("__rid") == F.col("__crid"))
            & (F.col("pos") == F.col("__cpos")),
        )
        cov = dac.select(
            "__rid",
            "__is_first",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("tp"),
        )
        first_cov = (
            cov.filter("__is_first").select("__rid", "tp").distinct()
        )
        all_cov = cov.select("__rid", "tp").distinct()
        # rep document: drop coverage not protected by a first
        # occurrence; non-rep members: drop ALL duplicated coverage
        rep_rm = all_cov.join(first_cov, ["__rid", "tp"], "left_anti")
        rep_rm_set = rep_rm.groupBy("__rid").agg(
            F.collect_set("tp").alias("__rm_rep")
        )
        all_rm_set = all_cov.groupBy("__rid").agg(
            F.collect_set("tp").alias("__rm_all")
        )
        return ckpt.track(
            rep_rm_set.join(all_rm_set, "__rid", "full_outer")
            .localCheckpoint(eager=False)
        )

    rm = plan_memo(
        spark, df, ("strip_duplicate_spans", id_col, text_col, k), build
    )
    reps = df.join(
        rk.select(F.col("__node").alias(id_col)), id_col, "left_semi"
    ).select(
        F.col(id_col).alias("__rid"),
        X.tokens_array(text_col).alias("__tok"),
    )
    empty_arr = F.array().cast("array<int>")
    per_rep = reps.join(rm, "__rid", "left").select(
        "__rid",
        "__tok",
        F.coalesce("__rm_rep", empty_arr).alias("__rm_rep"),
        F.coalesce("__rm_all", empty_arr).alias("__rm_all"),
    )

    def cleaned(rm_col: str):
        return F.concat_ws(
            " ",
            F.filter(
                F.col("__tok"),
                lambda x, i: ~F.array_contains(F.col(rm_col), i),
            ),
        )

    both = per_rep.select(
        "__rid",
        F.size("__tok").cast("long").alias("n_tokens"),
        cleaned("__rm_rep").alias("__clean_rep"),
        F.size("__rm_rep").cast("long").alias("__nrm_rep"),
        cleaned("__rm_all").alias("__clean_all"),
        F.size("__rm_all").cast("long").alias("__nrm_all"),
    )
    rep_of = rk.select(F.col("__node").alias("__rid"), "__th")
    return (
        both.join(rep_of, "__rid")
        .join(mem, "__th")
        .select(
            F.col("__mid").alias(id_col),
            F.when(F.col("__mid") == F.col("__rid"), F.col("__clean_rep"))
            .otherwise(F.col("__clean_all"))
            .alias("text_clean"),
            "n_tokens",
            F.when(F.col("__mid") == F.col("__rid"), F.col("__nrm_rep"))
            .otherwise(F.col("__nrm_all"))
            .cast("long")
            .alias("n_removed"),
        )
    )
