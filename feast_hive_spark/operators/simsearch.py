"""Similarity search over embedding columns (SURVEY §7).

Two paths:
- **Brute-force top-k** — exact cosine against every candidate, then a
  per-query row_number window. Correctness baseline, DuckDB-oracle
  matched.
- **Multi-table sign-LSH top-k** — deterministic random-hyperplane
  sign buckets across independent tables (OR-amplification);
  candidates share a bucket in >=1 table, then exact cosine rerank.
  Sub-linear candidate sets at scale; recall < 1 by construction, so
  no SQL oracle — tested against the brute-force baseline.

Kernel choice: dense vector math runs as Arrow-batched numpy matmuls
inside ``mapInPandas`` with the (small) query matrix broadcast —
measured ~20x faster than Spark's interpreted higher-order array
functions at sf0.1, with identical (6-decimal-rounded) values. The
candidate scan stays fully distributed; only per-batch top-k rows
(k * n_queries per batch) reach the final global window, so the
shuffle is tiny regardless of corpus size.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_hive_spark.functions import vector as V
from feast_hive_spark.plans.local import local_frame
from feast_hive_spark.plans.memo import job_memo


#: guardrail for the query-side collect — the ANN operators broadcast
#: the QUERY matrix (by contract the small side; the candidate corpus
#: never leaves the executors). A silently huge query set would OOM
#: the driver, so fail loudly instead.
MAX_QUERY_ROWS = 100_000


class AnnQueryGuardError(ValueError):
    """The ANN query set exceeded MAX_QUERY_ROWS. Deliberate, typed:
    the scale harness records this as the DOCUMENTED guard behavior
    (not a failure), and callers with corpus-sized query sets should
    switch to the collect-free pair-mining paths
    (lsh_hard_negative_topk / dedup.embedding_cosine_pairs)."""


def _kernel_width(candidates: DataFrame, n_queries: int) -> DataFrame:
    """Query-count-adaptive kernel parallelism (r13, guide §2.2): the
    per-batch matmul work is candidates x queries, so a corpus-sized
    query set (the knn/hard-negative evaluations) turns a single-file
    local scan (1 partition — tiny single-row-group testdata) into one
    serial quadratic task. Respread the candidate side to ~one task
    per 256 queries, capped at the cluster's defaultParallelism —
    derived from the problem size, not hardcoded to any core count.
    Small query sets (k-NN reports probe 8-40 queries) derive width 1
    and are left alone: for them extra partitions are pure dispatch +
    Arrow overhead (measured A/B — the 8-40-query reports regressed
    under a blanket respread while the corpus-as-queries kernels got
    ~20-30% faster). At real scale the scan arrives with file-count
    partitions >= the derived width and this is a no-op."""
    width = min(
        candidates.sparkSession.sparkContext.defaultParallelism,
        max(1, n_queries // 256),
    )
    if width > candidates.rdd.getNumPartitions():
        return candidates.repartition(width)
    return candidates


def _query_matrix(
    queries: DataFrame, id_col: str, vec_col: str,
    label_col: str | None = None,
):
    # bounded single-execution probe: LIMIT N+1 caps the transfer at
    # one row past the guard, and fetching the (bounded) rows directly
    # runs the query-side plan ONCE — the previous count-then-toPandas
    # sequence executed it twice (r6, same change as the CC/pagerank
    # small-graph probes)
    cols = [id_col, vec_col] + ([label_col] if label_col else [])
    qpdf = (
        queries.select(*cols)
        .limit(MAX_QUERY_ROWS + 1)
        .toPandas()
    )
    if len(qpdf) > MAX_QUERY_ROWS:
        raise AnnQueryGuardError(
            f"query set exceeds {MAX_QUERY_ROWS} rows; the ANN search "
            "collects+broadcasts the query matrix. For query sets this "
            "large, run dedup-style pair mining "
            "(dedup.embedding_cosine_pairs / lsh strategies) instead."
        )
    q_ids = qpdf[id_col].to_numpy()
    Qn = V.np_normalize(V.np_matrix(qpdf[vec_col]))
    if label_col:
        return q_ids, Qn, qpdf[label_col].to_numpy()
    return q_ids, Qn


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str | None = None,
    k: int = 5,
    label_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k per query (excluding self-matches).

    Per Arrow batch: one matmul against the broadcast query matrix,
    then a per-batch argpartition keeps only k rows per query — the
    global window merges batch winners, so shuffle volume is
    O(batches * queries * k), independent of corpus size.

    ``label_col`` (r14, r13 verdict #6): carry the candidate-side
    label and the (broadcast) query-side label through the kernel
    emission as ``nb_label`` / ``q_label`` — the knn evaluation family
    previously attached both with post-window joins against the corpus
    (two extra exchanges of the ranked rows). The ranked set and its
    order are unchanged; ``None`` (every other caller) keeps the
    output schema and plan identical to before."""
    qid = query_id_col or id_col
    spark = candidates.sparkSession
    if label_col:
        q_ids, Qn, q_labs = _query_matrix(queries, qid, vec_col, label_col)
        b_qlabs = spark.sparkContext.broadcast(q_labs)
    else:
        q_ids, Qn = _query_matrix(queries, qid, vec_col)
        b_qlabs = None
    b_qids = spark.sparkContext.broadcast(q_ids)
    b_qm = spark.sparkContext.broadcast(Qn)

    def mapper(batches):
        qids, Q = b_qids.value, b_qm.value
        qlabs = b_qlabs.value if b_qlabs is not None else None
        for batch in batches:
            ids = batch[id_col].to_numpy()
            if qids.size == 0 or ids.size == 0:
                continue
            # vectorized per-query top-k (r13, guide §4.2): the old
            # per-query Python loop dominated once the matmul was
            # cheap (query-count iterations per batch). The cut is a
            # column-wise argpartition (O(n) per query — a full
            # argsort pays log n more and regressed the corpus-sized
            # knn query set), then EVERY row tied with the boundary
            # value is emitted too: the per-batch survivors are a
            # superset of the global (cosine desc, neighbor_id asc)
            # window's winners, so boundary ties can never evict the
            # lower-id neighbor the final rank would pick. Self
            # matches are -inf sentinels dropped with the final
            # finite filter instead of per-query boolean masking.
            Cn = V.np_normalize(V.np_matrix(batch[vec_col]))
            S = np.round(Cn @ Q.T, 6)  # (n_batch, n_queries)
            S[ids[:, None] == qids[None, :]] = -np.inf
            keep = min(k, S.shape[0])
            if keep < S.shape[0]:
                part = np.argpartition(-S, keep - 1, axis=0)[:keep]
                bound = np.take_along_axis(S, part, axis=0).min(axis=0)
                rows, cols = np.nonzero(S >= bound[None, :])
            else:
                rows, cols = np.nonzero(np.isfinite(S))
            vals = S[rows, cols]
            fin = np.isfinite(vals)
            out = {
                "query_id": qids[cols[fin]],
                "neighbor_id": ids[rows[fin]],
                "cosine": vals[fin],
            }
            if qlabs is not None:
                out["nb_label"] = batch[label_col].to_numpy()[rows[fin]]
                out["q_label"] = qlabs[cols[fin]]
            yield pd.DataFrame(out)

    in_cols = [id_col, vec_col] + ([label_col] if label_col else [])
    schema = "query_id long, neighbor_id long, cosine double" + (
        ", nb_label long, q_label long" if label_col else ""
    )
    scored = _kernel_width(
        candidates.select(*in_cols), q_ids.size
    ).mapInPandas(mapper, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    keep_cols = ["query_id", "neighbor_id", "cosine", "rank"] + (
        ["nb_label", "q_label"] if label_col else []
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*keep_cols)
    )


def semantic_scores(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Per-corpus-row max cosine against the broadcast benchmark set —
    the shared scored intermediate of :func:`semantic_decontaminate`
    and :func:`decontaminate_threshold_sweep`: one vectorized
    ``mapInPandas`` matmul, each Arrow batch reduced to
    ``(__id, __lab, max_cos)`` with cosines 1e-6-rounded BEFORE the
    row max. An empty benchmark scores every row ``-1.0`` (flags
    nothing at any threshold > -1; at exactly -1 the ``>=`` flag
    predicate matches every row)."""
    spark = corpus.sparkSession
    _, Qn = _query_matrix(benchmark, id_col, vec_col)
    b_qm = spark.sparkContext.broadcast(Qn)
    id_type = corpus.schema[id_col].dataType
    lab_type = corpus.schema[label_col].dataType
    schema = T.StructType(
        [
            T.StructField("__id", id_type),
            T.StructField("__lab", lab_type),
            T.StructField("max_cos", T.DoubleType()),
        ]
    )

    def mapper(batches):
        Q = b_qm.value
        for batch in batches:
            ids = batch[id_col].to_numpy()
            if ids.size == 0:
                continue
            if Q.shape[0] == 0:
                mx = np.full(ids.size, -1.0)
            else:
                Cn = V.np_normalize(V.np_matrix(batch[vec_col]))
                mx = np.round(Cn @ Q.T, 6).max(axis=1)
            yield pd.DataFrame(
                {
                    "__id": ids,
                    "__lab": batch[label_col].to_numpy(),
                    "max_cos": mx,
                }
            )

    return corpus.select(id_col, vec_col, label_col).mapInPandas(
        mapper, schema
    )


def decontaminate_threshold_sweep(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    thresholds: Sequence[float] = (0.25, 0.3, 0.35, 0.4, 0.45),
) -> DataFrame:
    """Decontamination tuning curve from ONE scored pass (the
    minhash_band_sweep pattern): for each candidate threshold, how
    many corpus vectors would be flagged and what corpus share that
    is — the sweep a pipeline runs to pick its flag threshold without
    re-scoring the corpus per candidate.

    Shape: the corpus crosses the kernel exactly once; the sweep is
    len(thresholds) conditional sums inside ONE scan-wide aggregate
    (partial agg collapses map-side), then a #thresholds-row explode
    of the single result row. Output: ``(threshold, n_flagged,
    flagged_ppm)`` — exact integers, ppm fixed-point."""
    scored = semantic_scores(corpus, benchmark, id_col, vec_col, label_col)
    sums = scored.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum((F.col("max_cos") >= F.lit(t)).cast("long")).alias(
                f"__f{i}"
            )
            for i, t in enumerate(thresholds)
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(t)).alias("threshold"),
                F.col(f"__f{i}").alias("n_flagged"),
            )
            for i, t in enumerate(thresholds)
        ]
    )
    return (
        sums.select(F.col("__n"), F.explode(pairs).alias("__p"))
        .select(
            F.col("__p.threshold").alias("threshold"),
            F.col("__p.n_flagged").alias("n_flagged"),
            (
                F.round(F.col("__p.n_flagged") * 1000000 / F.col("__n"))
            ).cast("long").alias("flagged_ppm"),
        )
        .orderBy("threshold")
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    threshold: float = 0.45,
) -> DataFrame:
    """Embedding-level decontamination: per-label counts of corpus
    vectors whose max cosine against ANY benchmark vector reaches
    ``threshold`` — the semantic twin of the n-gram
    ``dedup.decontaminate`` (paraphrased benchmark leakage that
    token-overlap checks miss).

    Shape is the 100 TB-correct asymmetric one: the benchmark set is
    collected through the :func:`_query_matrix` guard (typed
    ``AnnQueryGuardError`` past ``MAX_QUERY_ROWS``) and broadcast; the
    corpus streams through one vectorized ``mapInPandas`` matmul that
    reduces each Arrow batch to (id, label, max_cos) — no corpus-sized
    shuffle at all; the only exchange carries the per-label partial
    aggregates. Cosines round to 1e-6 BEFORE the row-max (and the
    e6-fixed sum is a BIGINT fold), so the rollup is order-independent
    and hash-gated against a cross-join SQL twin.

    Output per label: ``n_corpus``, ``n_flagged``, ``max_sim`` (the
    label's worst leak), ``sum_maxsim_e6`` (exact integer mass of
    max-similarities — the drift statistic)."""
    scored = semantic_scores(corpus, benchmark, id_col, vec_col, label_col)
    return (
        scored.groupBy(F.col("__lab").alias(label_col))
        .agg(
            F.count(F.lit(1)).alias("n_corpus"),
            F.sum(
                (F.col("max_cos") >= threshold).cast("long")
            ).alias("n_flagged"),
            F.max("max_cos").alias("max_sim"),
            F.sum(
                F.round(F.col("max_cos") * 1000000).cast("long")
            ).alias("sum_maxsim_e6"),
        )
        .orderBy(label_col)
    )


def ivf_build_centroids(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = 16,
    iters: int = 5,
    sample_fraction: float = 1.0,
) -> "np.ndarray":
    """Build IVF coarse-quantizer centroids with distributed Lloyd
    iterations (deterministic: initial centroids are the vectors with
    the ``n_lists`` smallest md5-of-id values — a seedless uniform
    sample).

    Each iteration is one ``mapInPandas`` pass emitting per-partition
    (cluster, partial_sum, count) rows + a tiny driver-side combine —
    the classic Spark iterative-ML shape: the corpus never leaves the
    executors, only (n_lists x dim) partials travel."""
    base = candidates.select(id_col, vec_col)
    if sample_fraction < 1.0:
        base = base.sample(fraction=sample_fraction, seed=42)
    seeds = (
        base.withColumn("__r", F.md5(F.col(id_col).cast("string")))
        .orderBy("__r")
        .limit(n_lists)
        .toPandas()
    )
    C = V.np_normalize(V.np_matrix(seeds[vec_col]))

    for _ in range(iters):
        bc = base.sparkSession.sparkContext.broadcast(C)

        def partials(batches):
            cent = bc.value
            for batch in batches:
                M = V.np_normalize(V.np_matrix(batch.iloc[:, 1]))
                if M.size == 0:
                    continue
                assign = np.argmax(M @ cent.T, axis=1)
                for c in np.unique(assign):
                    sub = M[assign == c]
                    yield pd.DataFrame(
                        {
                            "cluster": [int(c)],
                            "vsum": [sub.sum(axis=0).tolist()],
                            "n": [len(sub)],
                        }
                    )

        agg = (
            base.mapInPandas(
                partials, "cluster int, vsum array<double>, n long"
            )
            .groupBy("cluster")
            .agg(
                F.aggregate(
                    F.collect_list("vsum"),
                    F.array_repeat(F.lit(0.0), C.shape[1]),
                    lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
                ).alias("vsum"),
                F.sum("n").alias("n"),
            )
            .toPandas()
        )
        newC = C.copy()
        for r in agg.itertuples():
            if r.n > 0:
                newC[r.cluster] = np.array(list(r.vsum)) / r.n
        C = V.np_normalize(newC)
    return C


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer: vectors are
    assigned to their nearest centroid's inverted list; a query scans
    only its ``n_probe`` closest lists, with exact cosine rerank
    inside them.

    Scale shape: the index build is iterative-Lloyd over partials
    (ivf_build_centroids); search is one mapInPandas pass where each
    batch scores only rows whose list is probed by some query —
    candidate volume ~ n_probe/n_lists of the corpus per query, and
    as with the other kernels only per-batch top-k rows are shuffled."""
    if centroids is None:
        centroids = ivf_build_centroids(candidates, id_col, vec_col, n_lists)
    spark = candidates.sparkSession
    q_ids, Qn = _query_matrix(queries, id_col, vec_col)
    if q_ids.size:
        qprobe = np.argsort(-(Qn @ centroids.T), axis=1)[:, :n_probe]
    else:
        qprobe = np.zeros((0, n_probe), dtype=np.int64)
    b = spark.sparkContext.broadcast((q_ids, Qn, qprobe, centroids))

    def mapper(batches):
        qids, Q, qp, cent = b.value
        for batch in batches:
            ids = batch[id_col].to_numpy()
            if qids.size == 0 or ids.size == 0:
                continue
            Cn = V.np_normalize(V.np_matrix(batch[vec_col]))
            assign = np.argmax(Cn @ cent.T, axis=1)
            out_q, out_n, out_c = [], [], []
            for j, q in enumerate(qids):
                mask = np.isin(assign, qp[j]) & (ids != q)
                if not mask.any():
                    continue
                cand_ids = ids[mask]
                sims = np.round(Cn[mask] @ Q[j], 6)
                keep = min(k, len(sims))
                top = np.argpartition(-sims, keep - 1)[:keep]
                out_q.extend([q] * len(top))
                out_n.extend(cand_ids[top])
                out_c.extend(sims[top])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    scored = candidates.select(id_col, vec_col).mapInPandas(
        mapper, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int | None = None,
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH + exact rerank.
    ``dim`` defaults to inference from the (collected) query matrix —
    the md5-derived planes are a pure function of (n_planes, dim,
    seed), so nothing is hardcoded to one embedding width.

    OR-amplification: ``n_tables`` independent hash tables, each a
    ``n_planes``-bit sign bucket against deterministic (md5-seeded)
    hyperplanes; a vector is a candidate for a query iff they share a
    bucket in at least one table; candidates get exact cosine rerank.
    Recall rises as 1-(1-p^planes)^tables.

    ``probe_bits`` (r12): MULTIPROBE — each query additionally probes
    every bucket within Hamming distance <= probe_bits of its own in
    each table (the Lv et al. 2007 idea: a near neighbor that misses
    the query's bucket most likely landed one sign-flip away). 1 bit
    turns each table lookup into n_planes+1 probes, buying back the
    recall of roughly 2x the tables at HALF the bucketing/matmul cost
    — probing is a membership test against a precomputed per-query
    set, not more hashing. Candidate-side cost is unchanged.

    Scale shape: bucket assignment is one matmul per Arrow batch
    against the (n_tables*n_planes, dim) plane matrix; each batch
    emits per-query candidate top-k only, so — as with brute force —
    the global shuffle is O(batches * queries * k). Unlike brute
    force, the per-batch matmul scores only bucket-colliding rows."""
    from itertools import combinations

    spark = candidates.sparkSession
    q_ids, Qn = _query_matrix(queries, id_col, vec_col)
    if dim is None:
        dim = Qn.shape[1] if Qn.size else 1
    planes = np.array(
        [
            row
            for t in range(n_tables)
            for row in V.hyperplanes(n_planes, dim, seed=f"t{t}")
        ],
        dtype=np.float64,
    )  # (n_tables*n_planes, dim)
    powers = 1 << np.arange(n_planes)
    # XOR masks for all probes within Hamming distance <= probe_bits
    # (mask 0 = the bucket itself)
    masks = np.array(
        sorted(
            sum(1 << p for p in bits)
            for r in range(probe_bits + 1)
            for bits in combinations(range(n_planes), r)
        ),
        dtype=np.int64,
    )
    if q_ids.size:
        qsigns = (Qn @ planes.T) >= 0  # (n_q, tables*planes)
        qbuckets = np.stack(
            [
                qsigns[:, t * n_planes : (t + 1) * n_planes] @ powers
                for t in range(n_tables)
            ],
            axis=1,
        )  # (n_q, n_tables)
        # (n_q, n_tables, n_probes)
        qprobes = qbuckets[:, :, None] ^ masks[None, None, :]
    else:
        qprobes = np.zeros((0, n_tables, len(masks)), dtype=np.int64)
    b = spark.sparkContext.broadcast((q_ids, Qn, qprobes, planes))

    def mapper(batches):
        qids, Q, qp, P = b.value
        for batch in batches:
            ids = batch[id_col].to_numpy()
            if qids.size == 0 or ids.size == 0:
                continue
            Cn = V.np_normalize(V.np_matrix(batch[vec_col]))
            csigns = (Cn @ P.T) >= 0
            cb = np.stack(
                [
                    csigns[:, t * n_planes : (t + 1) * n_planes] @ powers
                    for t in range(n_tables)
                ],
                axis=1,
            )  # (n_batch, n_tables)
            out_q, out_n, out_c = [], [], []
            for j, q in enumerate(qids):
                # candidate mask: candidate's bucket hits any probe of
                # the query in the SAME table (probe 0 = exact bucket)
                mask = (cb[:, :, None] == qp[j][None, :, :]).any(
                    axis=(1, 2)
                ) & (ids != q)
                if not mask.any():
                    continue
                cand_ids = ids[mask]
                sims = np.round(Cn[mask] @ Q[j], 6)
                keep = min(k, len(sims))
                top = np.argpartition(-sims, keep - 1)[:keep]
                out_q.extend([q] * len(top))
                out_n.extend(cand_ids[top])
                out_c.extend(sims[top])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    scored = candidates.select(id_col, vec_col).mapInPandas(
        mapper, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --- embedding-label analytics ------------------------------------------

def label_centroids(
    df: DataFrame, vec_col: str, label_col: str
) -> DataFrame:
    """Per-label elementwise centroid of an embedding column, one row
    per (label, pos) with the mean component value.

    posexplode -> (label, pos) hash aggregate: the shuffle key space is
    n_labels x dim (tiny, fixed), so partial aggregation collapses the
    corpus map-side and the exchange carries kilobytes regardless of
    row count — the right shape at any scale. Component sums accumulate
    in integer micro-units so float summation order is identical across
    engines (and across cluster sizes)."""
    x = df.select(
        F.col(label_col).cast("long").alias("label"),
        F.posexplode(vec_col).alias("pos", "__v"),
    ).select(
        "label",
        "pos",
        F.round(F.col("__v").cast("double") * 1000000, 0)
        .cast("long")
        .alias("__vu"),
    )
    return (
        x.groupBy("label", "pos")
        .agg(
            F.round(
                F.sum("__vu") / (1000000.0 * F.count(F.lit(1))), 6
            ).alias("centroid_val")
        )
    )


def _knn_eval_sample(
    df: DataFrame, id_col: str, sample_bp: "int | None"
) -> DataFrame:
    """Deterministic hash-sampled evaluation slice (r14, r13 verdict
    #9): exact kNN evaluation is O(n^2) BY DEFINITION, so past the
    broadcast guard the only exact option is the fully-distributed
    block-pair kernel — correct but quadratic in FLOPs. ``sample_bp``
    (basis points of rows kept, ``H48(salt:id) mod 10000`` — the same
    bucket arithmetic as curate.hash_split, so the slice is stable
    under re-runs/repartitioning/corpus growth) evaluates the SAME
    metric on a sampled sub-corpus: neighbors and queries both come
    from the slice, making it a self-contained kNN evaluation whose
    size the caller controls at any corpus scale. ``None`` (default,
    and every registry query) is a no-op — declared results are
    untouched."""
    if sample_bp is None:
        return df
    from feast_hive_spark.operators.curate import _bucket

    return df.filter(_bucket(id_col, "knneval") < int(sample_bp))


def knn_label_accuracy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    sample_bp: "int | None" = None,
) -> DataFrame:
    """kNN label-consistency evaluation: predict each vector's label by
    majority vote of its k nearest neighbors (cosine, self excluded),
    and report per-label (n, n_correct) — the embedding-quality probe a
    pipeline runs before trusting clusters or ANN filters.

    The all-pairs distance matrix comes from the distributed block-pair
    kernel (dedup._block_cosine_pairs): no driver collect, per-task
    memory O(block x dim), FLOPs spread across the cluster. Exact
    evaluation is inherently O(n^2) — at 100 TB you run it on a
    hash-sampled slice (operators/curate.py:hash_split) or feed LSH
    candidates instead; the vote/accuracy tail of the plan is identical
    either way. Ranking ties break on (cosine desc, neighbor id), votes
    on (count desc, label asc) — deterministic across engines."""
    pred = _knn_pred(
        _knn_eval_sample(df, id_col, sample_bp),
        id_col, vec_col, label_col, k,
    )
    return pred.groupBy(F.col("__lbl").alias("label")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("pred") == F.col("__lbl"), 1).otherwise(0)
        ).alias("n_correct"),
    )


def knn_label_confusion(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    sample_bp: "int | None" = None,
) -> DataFrame:
    """kNN label-confusion matrix — the confident-learning view
    (Northcutt et al., JAIR 2021) of the same majority votes
    :func:`knn_label_accuracy` aggregates: counts over (given label,
    kNN-predicted label). Diagonal mass is label-consistent
    structure; a concentrated off-diagonal cell is the classic
    systematic-mislabeling signature the CL estimator thresholds on.
    Same kernel, same deterministic tie-breaks; only the final
    aggregation differs (label-domain-squared output)."""
    pred = _knn_pred(
        _knn_eval_sample(df, id_col, sample_bp),
        id_col, vec_col, label_col, k,
    )
    return pred.groupBy(
        F.col("__lbl").alias("given_label"),
        F.col("pred").alias("pred_label"),
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


def _knn_pred(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int,
) -> DataFrame:
    """Shared majority-vote pipeline: one row per query,
    ``(q, pred, __lbl)`` — the kNN-vote prediction plus the query's
    own label, ready for the evaluation aggregates."""
    from feast_hive_spark.operators.dedup import _block_cosine_pairs

    labels = df.select(
        F.col(id_col).alias("__id"), F.col(label_col).cast("long").alias("__lbl")
    )
    # Two physical strategies for the same ranked-neighbor set:
    # while the table fits the broadcast guard, the brute-force kernel
    # keeps only k rows per query PER BATCH (shuffle volume
    # O(batches * n * k)) instead of materializing all n^2 scored
    # pairs into the window — ~3x on the bench probe. Past the guard,
    # fall back to the fully-distributed block-pair kernel (no driver
    # collect), whose window prunes with the same (cosine desc, id)
    # order. Both round cosine to 6dp before ranking, so the chosen
    # neighbors — and therefore the votes — are identical.
    # r13 (guide §1): let brute_force_topk's own guarded collect decide
    # the strategy instead of a dedicated LIMIT-probe count — the probe
    # was one extra full execution of the query-side plan per run.
    # r14 (r13 verdict #6): the vote tail is folded — neighbor AND
    # query labels ride the kernel emission (label_col passthrough, no
    # post-window label joins), and the per-query vote argmax is ONE
    # max(struct) aggregate instead of a second window + row_number
    # filter. max(struct(count, -label)) == the (count DESC, label
    # ASC) row_number()==1 pick: struct comparison is lexicographic,
    # so the max count wins and ties take the largest negated label =
    # the smallest label. Plan: 2 windows + 2 joins -> 1 window +
    # 0 joins (+ one extra tiny aggregate).
    try:
        ranked = brute_force_topk(
            df, df, id_col, vec_col, k=k, label_col=label_col
        )
        topk = ranked.select(
            F.col("query_id").alias("q"),
            F.col("nb_label").cast("long").alias("nb_label"),
            F.col("q_label").cast("long").alias("__lbl"),
        )
    except AnnQueryGuardError:
        pairs = _block_cosine_pairs(df, id_col, vec_col, threshold=-1.1)
        sym = pairs.select(
            F.col("id_a").alias("q"), F.col("id_b").alias("nb"), "cosine"
        ).unionAll(
            pairs.select(
                F.col("id_b").alias("q"), F.col("id_a").alias("nb"), "cosine"
            )
        )
        w = Window.partitionBy("q").orderBy(F.desc("cosine"), F.asc("nb"))
        topk = (
            sym.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select("q", "nb")
            .join(labels.withColumnRenamed("__id", "nb"), "nb")
            .withColumnRenamed("__lbl", "nb_label")
            .join(labels.withColumnRenamed("__id", "q"), "q")
        )
    votes = topk.groupBy("q", "nb_label").agg(
        F.count(F.lit(1)).alias("__c"), F.min("__lbl").alias("__lbl")
    )
    best = votes.groupBy("q").agg(
        F.max(
            F.struct(F.col("__c"), (-F.col("nb_label")).alias("__nl"))
        ).alias("__best"),
        F.min("__lbl").alias("__lbl"),
    )
    return best.select(
        "q", (-F.col("__best.__nl")).alias("pred"), "__lbl"
    )


def hard_negative_topk(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per vector, the
    ``k`` most cosine-similar vectors carrying a DIFFERENT label —
    the near-misses a retrieval/embedding model learns the most from.

    Same kernel shape as :func:`brute_force_topk` (guarded broadcast
    of the query matrix, per-Arrow-batch matmul + argpartition so
    only k rows per query leave each batch) with the label mask
    applied INSIDE the kernel — filtering after a plain top-k would
    silently under-fill queries whose nearest neighbors share their
    label. Output: (query_id, neighbor_id, cosine, rank).
    """
    spark = candidates.sparkSession
    # ONE guarded collect for ids + vectors + labels (r13, guide §1):
    # the old _query_matrix + separate label toPandas executed the
    # query-side plan twice (two driver jobs) and rebuilt the label
    # alignment through a Python dict.
    qpdf = (
        candidates.select(id_col, vec_col, label_col)
        .limit(MAX_QUERY_ROWS + 1)
        .toPandas()
    )
    if len(qpdf) > MAX_QUERY_ROWS:
        raise AnnQueryGuardError(
            f"query set exceeds {MAX_QUERY_ROWS} rows; the ANN search "
            "collects+broadcasts the query matrix. For query sets this "
            "large, run dedup-style pair mining "
            "(dedup.embedding_cosine_pairs / lsh strategies) instead."
        )
    qpdf_ids = qpdf[id_col].to_numpy()
    Qn = V.np_normalize(V.np_matrix(qpdf[vec_col]))
    q_labels = qpdf[label_col].to_numpy()
    b_qids = spark.sparkContext.broadcast(qpdf_ids)
    b_qm = spark.sparkContext.broadcast(Qn)
    b_qlab = spark.sparkContext.broadcast(q_labels)

    def mapper(batches):
        qids, Q, qlab = b_qids.value, b_qm.value, b_qlab.value
        for batch in batches:
            ids = batch[id_col].to_numpy()
            labs = batch[label_col].to_numpy()
            if qids.size == 0 or ids.size == 0:
                continue
            # vectorized per-query top-k (r13, guide §4.2) — same cut
            # as brute_force_topk: same-label cells become -inf
            # sentinels, the column-wise argpartition keeps k plus
            # every boundary-tied row (a superset of the global
            # (cosine desc, neighbor_id asc) window's winners, so a
            # tie can never evict the lower-id neighbor the final
            # rank picks), and non-finite sentinels drop at the end.
            Cn = V.np_normalize(V.np_matrix(batch[vec_col]))
            S = np.round(Cn @ Q.T, 6)  # (n_batch, n_queries)
            S[labs[:, None] == qlab[None, :]] = -np.inf
            keep = min(k, S.shape[0])
            if keep < S.shape[0]:
                part = np.argpartition(-S, keep - 1, axis=0)[:keep]
                bound = np.take_along_axis(S, part, axis=0).min(axis=0)
                rows, cols = np.nonzero(S >= bound[None, :])
            else:
                rows, cols = np.nonzero(np.isfinite(S))
            vals = S[rows, cols]
            fin = np.isfinite(vals)
            yield pd.DataFrame(
                {
                    "query_id": qids[cols[fin]],
                    "neighbor_id": ids[rows[fin]],
                    "cosine": vals[fin],
                }
            )

    scored = _kernel_width(
        candidates.select(id_col, vec_col, label_col), qpdf_ids.size
    ).mapInPandas(mapper, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def derive_lsh_planes(n_rows: int, target_bucket_rows: int) -> int:
    """Deterministic ``n_planes`` for a target bucket population:
    the minimal planes whose 2^p buckets hold ``n_rows`` at
    ``<= 2 * target_bucket_rows`` expected rows each — i.e.
    ``ceil(log2(ceil(n / target)))``, floored at 1. PURE INTEGER
    arithmetic (ceil-div + bit_length), so an oracle twin can replay
    the same ladder with integer range comparisons and no
    float-rounding divergence."""
    need = -(-max(0, n_rows) // max(1, target_bucket_rows))
    return max(1, (max(1, need) - 1).bit_length())


def lsh_hard_negative_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int | None = None,
    collapse_exact: bool = True,
    target_bucket_rows: int | None = None,
) -> DataFrame:
    """Collect-free hard-negative mining: per vector, the ``k`` most
    cosine-similar DIFFERENT-label vectors among multi-table sign-LSH
    bucket candidates — the dedup-style scale path for corpus-sized
    query sets, where :func:`hard_negative_topk`'s query-broadcast
    guard (``MAX_QUERY_ROWS``) deliberately trips.

    Shape (same tables as dedup.lsh_cosine_pairs, directional): one
    shuffle keyed by (table, bucket) moves each vector ``n_tables``
    times; inside every bucket a vectorized chunked matmul emits only
    each query's per-bucket top candidates (composite int64 sort key
    = (micro-rounded cosine desc, neighbor_id asc) — the SAME order
    the global rank uses, so per-bucket truncation is exact over the
    candidate set); a distinct collapses multi-table hits and a
    per-query WindowGroupLimit ranks the survivors. Nothing is
    collected; output is k rows per query.

    ``collapse_exact`` (default ON, the r9 second-decade fix): rows
    identical on (vector bytes, label) are collapsed to one
    representative before mining — identical vectors share every
    bucket AND every cosine, so a d-way duplicated corpus otherwise
    multiplies bucket populations by d and the per-bucket matmul by
    d^2 (measured exponent 2.1 on the 100x harness). Rep-level
    candidates keep the top-``k`` DENSE cosine levels per query
    (ties included — under duplication the k-th member boundary can
    interleave members of equal-cosine groups by id); expansion
    explodes those groups' members, re-ranks by (cosine desc, id
    asc), and fans the per-rep result out to every query-group
    member (a query's own group is label-excluded, so all members
    share one list). Output identical to the uncollapsed pipeline by
    construction; all expansion joins are output-sized.

    Deterministic md5-seeded hyperplanes make the approximation
    itself engine-reproducible — the registry twin replays the exact
    bucket scheme in SQL, so the report is hash-gated despite being
    approximate (recall < 1 vs the exact miner by construction).
    With ``n_planes`` fixed, bucket population grows linearly with
    DISTINCT vectors and per-bucket work quadratically — pass
    ``target_bucket_rows`` (r10, r9 verdict #3) and the engine derives
    ``n_planes`` itself via :func:`derive_lsh_planes` from ONE cheap
    memoized count of the distinct corpus (the collapse reps when
    ``collapse_exact``, else the raw rows), so the default is
    scale-SAFE rather than scale-documented; the explicit ``n_planes``
    remains the override when the target is unset. The derivation is
    integer-ladder deterministic, so a SQL twin replays it with count
    range comparisons (registry ``hard_negative_pairs_lsh_auto``).

    Null labels (r10, r9 ADVICE #2): rows with NULL ``label_col`` are
    dropped up front — NULL matches nothing under SQL ``<>``
    semantics, while the previous NaN round-trip let null-label rows
    pair with EACH OTHER in the numpy kernel. Id/label types are
    taken from the input schema (string ids fine; the int64 composite
    fast key engages only for non-negative integer ids < 2^31)."""
    emb = emb.filter(F.col(label_col).isNotNull())
    spark = emb.sparkSession
    if collapse_exact:
        gk = F.md5(
            F.concat_ws(
                "\x1f",
                F.col(label_col).cast("string"),
                F.col(vec_col).cast("string"),
            )
        )
        # ONE cached rep->member expansion table (r14, r13 verdict #2):
        # the old shape cached mem (member, group) AND reps (group,
        # rep) and walked rep -> group -> member TWICE (4 expansion
        # joins: rep_of+nmem for neighbors, qrep+qmem for the query
        # fan-out). `exp` holds (member, its group's rep) directly —
        # one window-min pass over the md5 keys — so each expansion is
        # a SINGLE join against the cached table: 4 joins -> 2, two
        # stages fewer, identical output by construction (exp ==
        # reps JOIN mem on the group key, row for row).
        mem = emb.select(
            F.col(id_col).alias("__mid"), gk.alias("__g")
        )
        exp = mem.select(
            "__mid",
            F.min("__mid").over(Window.partitionBy("__g")).alias("__rid"),
        ).cache()
        rep_rows = emb.join(
            exp.filter(F.col("__mid") == F.col("__rid")).select(
                F.col("__rid").alias(id_col)
            ),
            id_col,
            "left_semi",
        )
        if target_bucket_rows:
            n_distinct = job_memo(
                spark,
                emb,
                ("lsh_hn_rep_count", label_col, vec_col),
                # group count == rep-row count (one rep per group)
                lambda: exp.filter(
                    F.col("__mid") == F.col("__rid")
                ).count(),
            )
            n_planes = derive_lsh_planes(n_distinct, target_bucket_rows)
        rep_cand = _lsh_hn_candidates(
            rep_rows, id_col, vec_col, label_col,
            k, n_planes, n_tables, dim, dense_levels=True,
        )
        # neighbor-group expansion: rep neighbor -> its group's members
        # (identical vectors = identical cosine, exact), re-rank, k per
        # rep query; then fan out to every member of the query group.
        nexp = exp.select(
            F.col("__rid").alias("neighbor_id"),
            F.col("__mid").alias("__nid"),
        )
        expanded = rep_cand.join(nexp, "neighbor_id").select(
            "query_id", F.col("__nid").alias("neighbor_id"), "cosine"
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        per_rep = (
            expanded.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
        qexp = exp.select(
            F.col("__rid").alias("query_id"),
            F.col("__mid").alias("__qid"),
        )
        return per_rep.join(qexp, "query_id").select(
            F.col("__qid").alias("query_id"),
            "neighbor_id",
            "cosine",
            "rank",
        )
    if target_bucket_rows:
        n_rows = job_memo(
            spark, emb, ("lsh_hn_row_count", label_col),
            lambda: emb.count(),
        )
        n_planes = derive_lsh_planes(n_rows, target_bucket_rows)
    scored = _lsh_hn_candidates(
        emb, id_col, vec_col, label_col, k, n_planes, n_tables, dim,
        dense_levels=False,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _lsh_hn_candidates(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int,
    n_planes: int,
    n_tables: int,
    dim: int | None,
    dense_levels: bool,
) -> DataFrame:
    """Distinct per-query different-label candidates from the banded
    sign-LSH index: ``(query_id, neighbor_id, cosine)``.

    Per-bucket truncation modes, both exact over the candidate set:
    - ``dense_levels=False``: top-k rows by (cosine desc, id asc) via
      ONE vectorized argpartition on a composite int64 key
      (micro-cosine * 2^32 + (2^32-1-id) — unique per row, so no
      boundary-tie ambiguity; requires ids < 2^31, with a row-loop
      fallback for wider ids). Feeds a plain row_number top-k.
    - ``dense_levels=True`` (the collapse path): keep every row whose
      cosine sits in the bucket's top-k DISTINCT cosine values — the
      member expansion needs ALL groups tied at a kept level, because
      equal-cosine groups interleave members by id at the final
      boundary."""
    base = emb.select(id_col, vec_col, label_col)
    # schemas derive from the input (r10, r9 ADVICE #2) — string or
    # non-long ids/labels are legal; the int64 composite fast key
    # below engages only when the ids are non-negative ints < 2^31
    id_type = emb.schema[id_col].dataType
    lab_type = emb.schema[label_col].dataType
    band_schema = T.StructType([
        T.StructField("__id", id_type),
        T.StructField("__t", T.IntegerType()),
        T.StructField("__b", T.LongType()),
        T.StructField("__v", T.ArrayType(T.DoubleType())),
        T.StructField("__lab", lab_type),
    ])
    cand_schema = T.StructType([
        T.StructField("query_id", id_type),
        T.StructField("neighbor_id", id_type),
        T.StructField("cosine", T.DoubleType()),
    ])
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
            M = V.np_matrix(batch[vec_col])  # raw: sign(dot) scale-free
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
            labs = batch[label_col].to_numpy()
            yield pd.DataFrame(
                {
                    "__id": np.repeat(ids, n_tables),
                    "__t": np.tile(np.arange(n_tables), ids.size),
                    "__b": buckets.reshape(-1),
                    # repeat the Arrow cell values by reference — no
                    # per-vector list() materialization (guide §4.2)
                    "__v": np.repeat(batch[vec_col].to_numpy(), n_tables),
                    "__lab": np.repeat(labs, n_tables),
                }
            )

    banded = base.mapInPandas(bucketer, band_schema)

    def bucket_kernel(pdf):
        ids = pdf["__id"].to_numpy()
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype=ids.dtype),
                "neighbor_id": pd.Series([], dtype=ids.dtype),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(ids) < 2:
            return empty
        labs = pdf["__lab"].to_numpy()
        Mn = V.np_normalize(V.np_matrix(pdf["__v"]))
        n = len(ids)
        out_q, out_n, out_c = [], [], []
        step = 1024
        composite_ok = (
            not dense_levels
            and np.issubdtype(ids.dtype, np.integer)
            and ids.min() >= 0
            and ids.max() < (1 << 31)
        )
        for s in range(0, n, step):
            S = np.round(Mn[s : s + step] @ Mn.T, 6)
            # same-label pairs (incl. self) are not candidates
            same = labs[s : s + step, None] == labs[None, :]
            if composite_ok:
                # composite int64: micro-cosine then id-ascending —
                # unique per column, so argpartition has no tie
                # ambiguity at the k boundary
                c6 = np.rint(S * 1_000_000).astype(np.int64)
                key = c6 * (1 << 32) + ((1 << 32) - 1 - ids[None, :])
                key = np.where(same, np.int64(-(1 << 62)), key)
                keep = min(k, key.shape[1])
                top = np.argpartition(-key, keep - 1, axis=1)[:, :keep]
                rows = np.repeat(np.arange(key.shape[0]), keep)
                cols = top.reshape(-1)
                valid = key[rows, cols] > -(1 << 62)
                qrows = rows[valid] + s
                crows = cols[valid]
                out_q.append(ids[qrows])
                out_n.append(ids[crows])
                out_c.append(S[rows[valid], crows])
            elif dense_levels:
                # r13 (guide §4.2): the per-row np.unique loop was the
                # dominant cost (one Python iteration per query row);
                # the same top-k-DISTINCT-levels cut vectorizes as a
                # row-sort + run-boundary cumsum over the whole chunk.
                X = np.where(same, -np.inf, S)
                Xs = np.sort(X, axis=1)[:, ::-1]  # desc, -inf trailing
                finite = np.isfinite(Xs)
                newlev = np.ones(Xs.shape, dtype=bool)
                newlev[:, 1:] = Xs[:, 1:] != Xs[:, :-1]
                newlev &= finite
                rank = np.cumsum(newlev, axis=1)
                pos = np.where(
                    newlev & (rank <= k),
                    np.arange(Xs.shape[1])[None, :],
                    -1,
                ).max(axis=1)  # column of the k-th (or last) level
                rows_i = np.arange(Xs.shape[0])
                cut = np.where(
                    pos >= 0, Xs[rows_i, np.maximum(pos, 0)], np.inf
                )
                sel = np.isfinite(X) & (X >= cut[:, None])
                ri, cj = np.nonzero(sel)
                if ri.size:
                    out_q.append(ids[ri + s])
                    out_n.append(ids[cj])
                    out_c.append(S[ri, cj])
            else:
                # wide/object-id fallback (top-k rows, not levels)
                for r in range(S.shape[0]):
                    mask = ~same[r]
                    if not mask.any():
                        continue
                    sims = S[r][mask]
                    cand = ids[mask]
                    # two-pass stable sort instead of lexsort:
                    # works for object (string) id arrays too
                    keep = min(k, sims.size)
                    order = np.argsort(cand, kind="stable")
                    order = order[
                        np.argsort(-sims[order], kind="stable")
                    ]
                    sel = order[:keep]
                    out_q.append(np.full(sel.size, ids[s + r]))
                    out_n.append(cand[sel])
                    out_c.append(sims[sel])
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c).astype("float64"),
            }
        )

    # r13: one Python invocation per partition instead of per bucket —
    # same exchange, same kernel, ~5 ms/group applyInPandas overhead
    # removed (plans/grouped.py; guide §4.1)
    from feast_hive_spark.plans.grouped import grouped_apply_stream

    return grouped_apply_stream(
        banded, ("__t", "__b"), bucket_kernel, cand_schema
    ).distinct()  # multi-table hits carry identical rounded cosines


def pq_seed_codebooks(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    n_codes: int = 16,
) -> "np.ndarray":
    """Deterministic PQ codebook seeds: the ``n_codes`` vectors with
    the smallest md5-of-id (the same seedless-uniform-sample device as
    the IVF coarse quantizer), L2-normalized. Subspace codebooks are
    views into these full vectors — which keeps the whole index
    SQL-expressible for the oracle twin. A Lloyd refinement per
    subspace could reuse ivf_build_centroids on sliced columns; the
    seed codebook is the gated member of the family."""
    seeds = (
        candidates.select(id_col, vec_col)
        .withColumn("__r", F.md5(F.col(id_col).cast("string")))
        .orderBy("__r")
        .limit(n_codes)
        .toPandas()
    )
    return V.np_normalize(V.np_matrix(seeds[vec_col]))


def pq_adc_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    codebooks: "np.ndarray | None" = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC), inner-product flavor: every candidate vector is encoded as
    ``m`` sub-space code ids (argmax dot against the sub-codebook,
    ties to the lowest code); a query precomputes an (m x n_codes)
    lookup table of sub-dots and scores a candidate as the SUM of m
    table lookups — never touching the full vector.

    Scale story: after encoding, the index is m SMALL INTS per vector
    (m bytes at n_codes<=256) instead of dim floats — a 64-dim float
    corpus compresses 64x, the scan becomes integer lookups, and the
    encode pass is map-only. LUT entries are fixed to micro-unit
    BIGINTs so the m-term sum is order-independent — bit-identical in
    Spark and the DuckDB twin.

    Output: ``(query_id, neighbor_id, approx_micro, rank)`` — top-k
    per query by (approx score desc, neighbor id), self excluded.
    """
    C = codebooks
    if C is None:
        C = pq_seed_codebooks(candidates, id_col, vec_col, n_codes)
    dim = C.shape[1]
    assert dim % m == 0, "dim must split evenly into m subspaces"
    sub = dim // m
    q_ids, Qn = _query_matrix(queries, id_col, vec_col)
    # LUT[(query, s, code)] = round(1e6 * dot(q_sub, code_sub))
    if q_ids.size:
        lut = np.stack(
            [
                np.rint(
                    (Qn[:, s * sub : (s + 1) * sub]
                     @ C[:, s * sub : (s + 1) * sub].T) * 1_000_000
                ).astype(np.int64)
                for s in range(m)
            ],
            axis=1,
        )  # (nq, m, n_codes)
    else:
        lut = np.zeros((0, m, n_codes), dtype=np.int64)
    spark = candidates.sparkSession
    b = spark.sparkContext.broadcast((q_ids, lut, C, m, sub))

    def mapper(batches):
        qids, LUT, cent, mm, ss = b.value
        for batch in batches:
            ids = batch[id_col].to_numpy()
            if qids.size == 0 or ids.size == 0:
                continue
            Mn = V.np_normalize(V.np_matrix(batch[vec_col]))
            # encode: per subspace, argmax dot (ties -> lowest code)
            codes = np.stack(
                [
                    np.argmax(
                        Mn[:, s * ss : (s + 1) * ss]
                        @ cent[:, s * ss : (s + 1) * ss].T,
                        axis=1,
                    )
                    for s in range(mm)
                ],
                axis=1,
            )  # (n, m)
            # ADC: approx[i, q] = sum_s LUT[q, s, codes[i, s]]
            approx = np.zeros((len(ids), len(qids)), dtype=np.int64)
            for s in range(mm):
                approx += LUT[:, s, codes[:, s]].T  # (n, nq)
            out_q, out_n, out_a = [], [], []
            for j, q in enumerate(qids):
                mask = ids != q
                scores = approx[mask, j]
                nids = ids[mask]
                top = np.lexsort((nids, -scores))[:k]
                out_q.extend([q] * len(top))
                out_n.extend(nids[top].tolist())
                out_a.extend(scores[top].tolist())
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": out_q,
                        "neighbor_id": out_n,
                        "approx_micro": out_a,
                    }
                )

    partial = candidates.select(id_col, vec_col).mapInPandas(
        mapper, "query_id long, neighbor_id long, approx_micro long"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_micro").desc(), F.col("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "approx_micro",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivfpq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 32,
    n_codes: int = 64,
    centroids: "np.ndarray | None" = None,
    codebooks: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF-PQ: the production ANN composition — an IVF coarse
    quantizer restricts each query to its ``n_probe`` nearest
    inverted lists, and candidates inside those lists are scored by
    PQ asymmetric-distance lookups instead of full-vector math.

    At scale this is the index layout that makes billion-vector
    search tractable: the corpus is stored as (list_id, m code
    bytes) — neither the coarse assignment pass nor the search pass
    ever shuffles a float vector; per query, work is
    ~(n_probe / n_lists) of the corpus in integer LUT sums. Both
    quantizers are md5-seeded (the IVF/PQ gated entries' device), so
    the ENTIRE composed index remains SQL-expressible and the oracle
    certifies the approximate ranking itself.

    Output: ``(query_id, neighbor_id, approx_micro, rank)``.
    """
    C = centroids
    if C is None:
        C = ivf_build_centroids(candidates, id_col, vec_col, n_lists, iters=0)
    B = codebooks
    if B is None:
        B = pq_seed_codebooks(candidates, id_col, vec_col, n_codes)
    dim = B.shape[1]
    assert dim % m == 0
    sub = dim // m
    q_ids, Qn = _query_matrix(queries, id_col, vec_col)
    if q_ids.size:
        qprobe = np.argsort(-(Qn @ C.T), axis=1)[:, :n_probe]
        lut = np.stack(
            [
                np.rint(
                    (Qn[:, s * sub : (s + 1) * sub]
                     @ B[:, s * sub : (s + 1) * sub].T) * 1_000_000
                ).astype(np.int64)
                for s in range(m)
            ],
            axis=1,
        )
    else:
        qprobe = np.zeros((0, n_probe), dtype=np.int64)
        lut = np.zeros((0, m, n_codes), dtype=np.int64)
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, qprobe, lut, C, B, m, sub))

    def mapper(batches):
        qids, qp, LUT, cent, cb, mm, ss = bc.value
        for batch in batches:
            ids = batch[id_col].to_numpy()
            if qids.size == 0 or ids.size == 0:
                continue
            Mn = V.np_normalize(V.np_matrix(batch[vec_col]))
            assign = np.argmax(Mn @ cent.T, axis=1)
            codes = np.stack(
                [
                    np.argmax(
                        Mn[:, s * ss : (s + 1) * ss]
                        @ cb[:, s * ss : (s + 1) * ss].T,
                        axis=1,
                    )
                    for s in range(mm)
                ],
                axis=1,
            )
            approx = np.zeros((len(ids), len(qids)), dtype=np.int64)
            for s in range(mm):
                approx += LUT[:, s, codes[:, s]].T
            out_q, out_n, out_a = [], [], []
            for j, q in enumerate(qids):
                mask = np.isin(assign, qp[j]) & (ids != q)
                if not mask.any():
                    continue
                scores = approx[mask, j]
                nids = ids[mask]
                top = np.lexsort((nids, -scores))[:k]
                out_q.extend([q] * len(top))
                out_n.extend(nids[top].tolist())
                out_a.extend(scores[top].tolist())
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": out_q,
                        "neighbor_id": out_n,
                        "approx_micro": out_a,
                    }
                )

    partial = candidates.select(id_col, vec_col).mapInPandas(
        mapper, "query_id long, neighbor_id long, approx_micro long"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_micro").desc(), F.col("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "approx_micro",
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------
# Distributed k-means + SemDeDup (semantic near-dup removal)
# ---------------------------------------------------------------------

#: micro-unit scale shared by both engines for k-means arithmetic
_KM_MICRO = 1_000_000


def _micro_vec(vec_col: str):
    """array<long> of round(v * 1e6) — all k-means arithmetic is
    integer micro-units so float summation order can never diverge
    between engines or cluster sizes."""
    return F.expr(
        f"transform({vec_col}, v -> "
        f"CAST(round(CAST(v AS DOUBLE) * {_KM_MICRO}, 0) AS BIGINT))"
    )


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
    assign: str = "auto",
) -> DataFrame:
    """Lloyd's k-means over an embedding column, the canonical
    distributed formulation: centroids are the ONLY driver-side state
    (k x dim longs per round); every corpus-sized step is a map-only
    scan against broadcast centroid literals plus one tiny-key
    aggregate whose shuffle carries k x dim rows regardless of corpus
    size. That is the 100 TB shape — no all-pairs step, no
    driver-sized collect, rounds = ``iters`` (fixed, not
    convergence-polled).

    Deterministic across engines and cluster sizes:
    - seeding: cluster_0(id) = h48('km:' || id) % k (stateless hash,
      no RNG, no order dependence);
    - centroid components: floor(sum_micro / count) — exact integer
      given exact integer micro inputs;
    - assignment: argmin of integer squared L2 in micro units, ties
      to the lowest cluster id (sort on (dist, cluster)).

    Empty clusters (possible once k approaches the row count) simply
    drop out of the centroid table and later rounds assign among the
    survivors — mirrored by the SQL twin's GROUP BY.

    Returns ``(id, cluster, dist)`` for the FINAL assignment, with
    ``dist`` the selected integer squared L2 to the final round's
    centroid. Memoized per input plan (plans/memo.py): the rounds run
    eagerly at build time.

    ``assign`` (r6 verdict #6) picks how centroids re-enter the plan:

    - ``"literal"``: k x dim literal longs inlined as a
      ``sort_array(array(named_struct(...)))`` argmin — zero joins,
      whole-stage codegen, the fastest shape while the generated
      expression stays under codegen limits (fine to k ~ 64).
    - ``"join"``: a k-row centroid DataFrame broadcast into a nested
      -loop join + min(struct(dist, cluster)) argmin aggregate —
      survives IVF-scale codebooks (k in the tens of thousands) where
      literal SQL would blow past codegen/constant-pool limits. The
      per-point k-candidate rows collapse map-side (partial min), so
      the exchange still carries ~n rows.
    - ``"auto"`` (default): literal for k <= 64, join above.

    Both paths share seeding, integer arithmetic, and the
    (dist, cluster) tie-break, so they are bit-identical — asserted
    by `tests/test_simsearch.py` and the unchanged k=4 SQL twin.
    """
    from feast_hive_spark.plans.memo import plan_memo

    return plan_memo(
        df.sparkSession,
        df,
        ("kmeans_assign", id_col, vec_col, k, iters, assign),
        lambda: _kmeans_build(df, id_col, vec_col, k, iters, assign),
    )


def _kmeans_build(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
    assign: str = "auto",
) -> DataFrame:
    from feast_hive_spark.functions.text import h48

    join_path = k > 64 if assign == "auto" else assign == "join"
    base = df.select(
        F.col(id_col).alias("__id"), _micro_vec(vec_col).alias("__vm")
    )
    assigned = base.withColumn(
        "__c",
        (
            h48(F.concat(F.lit("km:"), F.col("__id").cast("string"))) % k
        ).cast("int"),
    )
    for _ in range(iters):
        # centroid table: k x dim rows -> driver (tiny, bounded by k*dim)
        rows = (
            assigned.select("__c", F.posexplode("__vm").alias("pos", "v"))
            .groupBy("__c", "pos")
            .agg(
                F.floor(
                    F.sum("v").cast("double") / F.count(F.lit(1))
                ).cast("long").alias("cm")
            )
            .collect()
        )
        cent: dict[int, dict[int, int]] = {}
        for r in rows:
            cent.setdefault(r["__c"], {})[r["pos"]] = r["cm"]
        if join_path:
            assigned = _assign_via_join(base, cent)
            continue
        # argmin over the surviving clusters, ties to lowest cluster id
        structs = []
        for c in sorted(cent):
            comps = cent[c]
            arr = ", ".join(
                f"{comps[p]}L" for p in range(len(comps))
            )
            structs.append(
                "named_struct('d', aggregate(zip_with(__vm, "
                f"array({arr}), (x, c) -> (x - c) * (x - c)), 0L, "
                f"(a, v) -> a + v), 'c', {c})"
            )
        pick = f"sort_array(array({', '.join(structs)}))[0]"
        assigned = base.selectExpr(
            "__id", "__vm", f"{pick}.c AS __c", f"{pick}.d AS __d"
        )
    return assigned.select(
        F.col("__id").alias(id_col),
        F.col("__c").cast("long").alias("cluster"),
        F.col("__d").alias("dist"),
    )


def _assign_via_join(
    base: DataFrame, cent: "dict[int, dict[int, int]]"
) -> DataFrame:
    """Broadcast-join argmin assignment: centroids as a k-row
    DataFrame instead of k x dim literal SQL. min(struct(d, c))
    reproduces the literal path's (dist, cluster-id) tie-break
    exactly; F.first('__vm') is safe — the vector is constant within
    its id group."""
    spark = base.sparkSession
    cent_rows = [
        (c, [comps[p] for p in range(len(comps))])
        for c, comps in sorted(cent.items())
    ]
    cent_df = local_frame(spark, cent_rows, "__cc int, __cm array<bigint>")
    dist = F.expr(
        "aggregate(zip_with(__vm, __cm, (x, c) -> (x - c) * (x - c)), "
        "0L, (a, v) -> a + v)"
    )
    return (
        base.crossJoin(F.broadcast(cent_df))
        .withColumn("__dd", dist)
        .groupBy("__id")
        .agg(
            F.min(
                F.struct(
                    F.col("__dd").alias("d"), F.col("__cc").alias("c")
                )
            ).alias("__s"),
            F.first("__vm").alias("__vm"),
        )
        .select(
            "__id",
            "__vm",
            F.col("__s.c").cast("int").alias("__c"),
            F.col("__s.d").alias("__d"),
        )
    )


def kmeans_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Per-cluster size + inertia (sum of selected squared distances,
    micro^2 units) of the final :func:`kmeans_assign` round — the
    convergence readout a pipeline logs per training round."""
    a = kmeans_assign(df, id_col, vec_col, k=k, iters=iters)
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dist").cast("long").alias("inertia"),
    )


def semdedup_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.45,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): restrict the quadratic
    near-duplicate search to WITHIN k-means clusters — the standard
    way to make embedding dedup tractable at corpus scale. Cluster
    assignment is map-only (:func:`kmeans_assign`); the pair join is
    keyed by cluster, so each task's quadratic blow-up is bounded by
    its cluster size (at 100 TB you raise k until clusters fit;
    cross-cluster pairs are sacrificed by design, which is the
    documented recall trade of the method).

    Per cluster: member count, number of near-dup pairs (cosine >=
    threshold, 6dp-rounded like every cosine in this repo), and the
    greedy removal count (distinct higher-id members that duplicate a
    lower-id keeper). Clusters with no pairs still emit a row.
    """
    a = kmeans_assign(df, id_col, vec_col, k=k, iters=iters).select(
        F.col(id_col).alias("__id"), "cluster"
    ).cache()  # (r13, §1.3) feeds the pair kernel's join AND the
    # cluster-size rollup — uncached, the assignment map (k x dim
    # distance argmin per row) executed twice per run
    emb = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).join(a, "__id")

    # Cluster-keyed Arrow numpy kernel (same math + 6dp rounding as
    # _block_cosine_pairs): each cluster's quadratic scoring runs as
    # chunked matmuls inside ONE applyInPandas group — per-task memory
    # O(cluster_size x dim), which is precisely the quantity SemDeDup
    # controls by raising k. The interpreted zip_with/aggregate
    # formulation was ~20x slower at sf0.1 (7.8s -> vectorized).
    def kernel(key, pdf):
        ids = pdf["__id"].to_numpy()
        Mn = V.np_normalize(V.np_matrix(pdf["__vec"]))
        out_a, out_b = [], []
        step = 1024
        for s in range(0, len(ids), step):
            S = np.round(Mn[s : s + step] @ Mn.T, 6)
            mask = (S >= threshold) & (
                ids[s : s + step, None] < ids[None, :]
            )
            ri, cj = np.nonzero(mask)
            if ri.size:
                out_a.append(ids[s:][ri])
                out_b.append(ids[cj])
        if not out_a:
            return pd.DataFrame(
                {
                    "cluster": np.array([], dtype=np.int64),
                    "id_a": np.array([], dtype=np.int64),
                    "id_b": np.array([], dtype=np.int64),
                }
            )
        la = np.concatenate(out_a)
        lb = np.concatenate(out_b)
        return pd.DataFrame(
            {
                "cluster": np.full(len(la), int(key[0]), dtype=np.int64),
                "id_a": la,
                "id_b": lb,
            }
        )

    pairs = emb.groupBy("cluster").applyInPandas(
        kernel, "cluster long, id_a long, id_b long"
    )
    stats = pairs.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("id_b").cast("long").alias("n_removed"),
    )
    sizes = a.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    return sizes.join(stats, "cluster", "left").select(
        "cluster",
        "n_vectors",
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
    )


def pq_train_codebooks_df(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    assign: str = "auto",
) -> DataFrame:
    """Trained PQ codebooks: per-subspace Lloyd's k-means, the real
    algorithm behind every production PQ index (the seed codebooks in
    :func:`pq_seed_codebooks` are the SQL-simplest member of the
    family; this is the quality member). All m subspaces train
    TOGETHER: one exploded (vector, subspace) table, one assignment
    map per round against broadcast (subspace, code) centroid
    literals, one (m x n_codes x sub)-key aggregate per round — so a
    round costs one corpus scan regardless of m, and driver state is
    m*n_codes*sub longs.

    Same cross-engine discipline as :func:`kmeans_assign`: micro-unit
    integers, hash seeding per (subspace, id), floor-divided
    centroids, (dist, code) argmin ties to the lowest code. Output:
    the round-``iters`` centroid table ``(s, code, pos, cm)`` (pos is
    the within-subspace component index, cm the micro-unit centroid
    component) — hash-certifiable against the unrolled SQL twin, and
    convertible to the (m, n_codes, sub) float array
    :func:`pq_adc_topk` consumes via :func:`pq_codebooks_from_table`.
    Memoized per input plan (plans/memo.py).

    ``assign`` mirrors :func:`kmeans_assign` (r6 verdict #6):
    ``"literal"`` inlines m * n_codes * sub centroid longs per round
    (fast, codegen-bounded), ``"join"`` broadcasts an (s, code)-row
    centroid table and equi-joins on the subspace — the shape that
    survives IVF-scale codebooks. ``"auto"``: literal for
    n_codes <= 64. Bit-identical outputs (shared seeding/arithmetic/
    tie-breaks).
    """
    from feast_hive_spark.plans.memo import plan_memo

    return plan_memo(
        df.sparkSession,
        df,
        (
            "pq_train_codebooks_df",
            id_col, vec_col, dim, m, n_codes, iters, assign,
        ),
        lambda: _pq_train_build(
            df, id_col, vec_col, dim, m, n_codes, iters, assign
        ),
    )


def _pq_train_build(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int,
    n_codes: int,
    iters: int,
    assign: str = "auto",
) -> DataFrame:
    from feast_hive_spark.functions.text import h48
    from feast_hive_spark.operators.simsearch import _micro_vec

    assert dim % m == 0, "dim must split evenly into m subspaces"
    sub = dim // m
    base = df.select(
        F.col(id_col).alias("__id"), _micro_vec(vec_col).alias("__vm")
    )
    exploded = base.select(
        "__id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("s"),
                    F.slice("__vm", s * sub + 1, sub).alias("sv"),
                )
                for s in range(m)
            ])
        ).alias("__e"),
    ).select("__id", F.col("__e.s").alias("s"), F.col("__e.sv").alias("sv"))
    assigned = exploded.withColumn(
        "__c",
        (
            h48(
                F.concat(
                    F.lit("pq"),
                    F.col("s").cast("string"),
                    F.lit(":"),
                    F.col("__id").cast("string"),
                )
            )
            % n_codes
        ).cast("int"),
    )
    spark = df.sparkSession
    cent_rows = None
    for t in range(1, iters + 1):
        cent_rows = (
            assigned.select("s", "__c", F.posexplode("sv").alias("pos", "v"))
            .groupBy("s", "__c", "pos")
            .agg(
                F.floor(
                    F.sum("v").cast("double") / F.count(F.lit(1))
                ).cast("long").alias("cm")
            )
            .collect()
        )
        if t == iters:
            break
        cent: dict = {}
        for r in cent_rows:
            cent.setdefault(r["s"], {}).setdefault(r["__c"], {})[
                r["pos"]
            ] = r["cm"]
        join_path = n_codes > 64 if assign == "auto" else assign == "join"
        if join_path:
            # (s, code)-row centroid table broadcast-equi-joined on
            # the subspace; min(struct(d, c)) keeps the literal
            # path's (dist, code) tie-break. Survives IVF-scale
            # codebooks where the CASE/named_struct literal SQL
            # would blow past codegen limits.
            cdf = local_frame(
                spark,
                [
                    (s, c, [cent[s][c][p] for p in range(len(cent[s][c]))])
                    for s in sorted(cent)
                    for c in sorted(cent[s])
                ],
                "s int, __cc int, __cm array<bigint>",
            )
            dist = F.expr(
                "aggregate(zip_with(sv, __cm, (x, c) -> (x - c) * (x - c)),"
                " 0L, (a, v) -> a + v)"
            )
            assigned = (
                exploded.join(F.broadcast(cdf), "s")
                .withColumn("__dd", dist)
                .groupBy("__id", "s")
                .agg(
                    F.min(
                        F.struct(
                            F.col("__dd").alias("d"),
                            F.col("__cc").alias("c"),
                        )
                    ).alias("__s"),
                    F.first("sv").alias("sv"),
                )
                .select(
                    "__id", "s", "sv",
                    F.col("__s.c").cast("int").alias("__c"),
                )
            )
            continue
        branches = []
        for s in sorted(cent):
            structs = []
            for c in sorted(cent[s]):
                comps = cent[s][c]
                arr = ", ".join(f"{comps[p]}L" for p in range(len(comps)))
                structs.append(
                    "named_struct('d', aggregate(zip_with(sv, "
                    f"array({arr}), (x, c) -> (x - c) * (x - c)), 0L, "
                    f"(a, v) -> a + v), 'c', {c})"
                )
            branches.append(
                f"WHEN s = {s} THEN "
                f"sort_array(array({', '.join(structs)}))[0].c"
            )
        assigned = exploded.selectExpr(
            "__id",
            "s",
            "sv",
            f"CAST(CASE {' '.join(branches)} END AS INT) AS __c",
        )
    return local_frame(
        spark,
        [
            (int(r["s"]), int(r["__c"]), int(r["pos"]), int(r["cm"]))
            for r in cent_rows
        ],
        "s long, code long, pos long, cm long",
    )


def pq_codebooks_from_table(
    rows, m: int, n_codes: int, sub: int
) -> "np.ndarray":
    """(s, code, pos, cm) rows -> the (n_codes, m*sub) float codebook
    matrix :func:`pq_adc_topk` consumes (missing/dead codes stay 0)."""
    C = np.zeros((n_codes, m * sub), dtype=np.float64)
    for r in rows:
        C[int(r["code"]), int(r["s"]) * sub + int(r["pos"])] = (
            r["cm"] / 1_000_000.0
        )
    return C


def kcenter_diverse_sample(
    emb: DataFrame, id_col: str, vec_col: str, k: int = 4
) -> DataFrame:
    """Greedy k-center (Gonzalez) diversity sample over an embedding
    column: seed with the smallest id, then each round pick the vector
    FARTHEST (max cosine distance) from its nearest already-selected
    center, ties to the smallest id — the 2-approximation every
    diversity-sampling / coreset pipeline uses to pick "k maximally
    spread exemplars" (the dual of SemDeDup's remove-the-closest).

    Execution: k - 1 bounded rounds (k is a small constant). Each
    round joins the corpus against the <= k-row broadcast center set,
    takes the per-vector MIN cosine similarity to any center (one
    grouped aggregate), and argmaxes the distance with a
    TakeOrdered(1) — the corpus is never shuffled, and the driver
    holds only ids. Cosine stays in JVM codegen
    (functions/vector.cosine: zip_with + aggregate fold).

    Output: ``(pick_rank, id, dist_micro)`` — dist_micro = the pick's
    exact-integer micro cosine distance to the nearest earlier center
    (0 for the seed by convention)."""
    from feast_hive_spark.functions import vector as V

    # id column keeps the input's type (string/int/... ids all work)
    out_schema = T.StructType(
        [
            T.StructField("pick_rank", T.LongType(), False),
            T.StructField(id_col, emb.schema[id_col].dataType, True),
            T.StructField("dist_micro", T.LongType(), True),
        ]
    )
    seed = emb.select(F.min(id_col).alias("__s")).first()["__s"]
    if seed is None:  # empty corpus: no picks, not a (1, NULL) row
        return local_frame(emb.sparkSession, [], out_schema)
    picks = [(1, seed, 0)]
    centers = emb.filter(F.col(id_col) == seed).select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv")
    )
    for r in range(2, k + 1):
        scored = (
            emb.join(F.broadcast(centers), F.col(id_col) != F.col("__cid"))
            .filter(~F.col(id_col).isin([p[1] for p in picks]))
            .select(
                F.col(id_col),
                V.cosine(F.col(vec_col), F.col("__cv")).alias("__cos"),
            )
            .groupBy(id_col)
            .agg(F.max("__cos").alias("__nearest"))
        )
        top = (
            scored.select(
                F.col(id_col),
                F.round((1.0 - F.col("__nearest")) * 1000000)
                .cast("long")
                .alias("__dist"),
            )
            .orderBy(F.col("__dist").desc(), F.col(id_col))
            .limit(1)
            .collect()
        )
        if not top:
            break
        picks.append((r, top[0][0], top[0][1]))
        centers = centers.union(
            emb.filter(F.col(id_col) == top[0][0]).select(
                F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv")
            )
        ).localCheckpoint(eager=True)
    return local_frame(emb.sparkSession, picks, out_schema)
