#!/usr/bin/env python
"""Scale-evidence harness (VERDICT r5 #2): measure how the
scale-critical query families grow from sf0.1 (~600k lineitem rows) to
a builder-generated ~10x dataset, and emit ``BENCH_SF1.json`` with the
observed per-query scaling exponent.

The 10x dataset is a union of 10 KEY-SHIFTED copies of the read-only
driver testdata at sf0.1 (never touching ``/root/testdata``): every
primary/foreign key is shifted by ``copy_index * (max_key + 1)`` so
referential integrity holds within each copy, while row counts grow
exactly 10x. Non-key content is left identical across copies on
purpose — cross-copy duplicate clusters have CONSTANT size 10, so the
dedup/near-dup/CC families face realistic duplication whose pair
production stays linear in rows (a cluster of 10 contributes a bounded
45 pairs regardless of corpus size). Dimension tables (region, nation)
are genuinely fixed-cardinality and are not multiplied.

Both scales run in ONE Spark session on ENGINE DEFAULTS (AQE on, no
bench-session respread/AQE-off tuning): the exponent should describe
the plans a cluster would run, not the sf0.1 micro-tuning. Timing is
end-to-end per query (plan construction + eager build jobs + noop-sink
execution, median of 3), matching the e2e accounting bench.py emits.

exponent = log(t_10x / t_1x) / log(10): 1.0 = linear, <1 sublinear
(fixed per-job floor amortizing), >1 superlinear. The verdict gate is
"no query scales worse than ~linear in rows" — queries above
``EXPONENT_FLAG`` are listed in ``flagged``.

Usage:
    python bench_scale.py [query ...]       # default: SCALE_QUERIES
    SPARK_GRAFT_SF1_DIR=... python bench_scale.py   # data dir override

The dataset is generated on first run (~1 min) and reused; it lives in
``/root/repo/bench_sf1/`` and is gitignored (only the JSON artifact and
this script are committed).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

from pyspark.sql import functions as F

from feast_hive_spark.registry import REGISTRY
import feast_hive_spark.registry_analytics  # noqa: F401
import feast_hive_spark.registry_corpus  # noqa: F401
import feast_hive_spark.registry_ext  # noqa: F401
import feast_hive_spark.registry_rel  # noqa: F401
from feast_hive_spark.session import get_spark
from feast_hive_spark.sources.tables import TABLES, read_table

SF01_DIR = "/root/testdata/sf0.1"
_HERE = os.path.dirname(os.path.abspath(__file__))
SF1_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_DIR", os.path.join(_HERE, "bench_sf1")
)
SF10_DIR = os.environ.get(
    "SPARK_GRAFT_SF10_DIR", os.path.join(_HERE, "bench_sf10")
)
N_COPIES = 10
N_COPIES_100 = 100
EXPONENT_FLAG = 1.15  # ~linear with room for noise at 3-run medians

# Declared-semantics notes stamped verbatim into the named query's
# tier row (r13, r12 verdict #5): these rows' exponents follow from
# the operator's DECLARED cost model, so the artifact carries the
# attribution instead of leaving the reader to find it in SCALING.md.
TIER_NOTES = {
    "hard_negative_pairs_lsh": (
        "fixed resolution (4 planes/16 buckets) — candidate cosines "
        "grow quadratically by design (measured x100.7/decade); demo "
        "scale. The occupancy-targeted scale path is "
        "hard_negative_pairs_lsh_auto (SCALING.md r13)."
    ),
    "fuzzy_part_name_pairs": (
        "declared output-quadratic semantics (emits every qualifying "
        "pair); the collapsed stats twin fuzzy_part_name_stats is the "
        "scale path (SCALING.md r9)."
    ),
    "knn_label_confusion_matrix": (
        "exact all-pairs kNN evaluation (O(n^2) by definition, like "
        "knn_label_accuracy); at 100 TB run on a hash-sampled slice "
        "or LSH candidates — the vote/confusion tail is identical."
    ),
}

# --tier100 (r6 verdict #2): the second decade. Exponents measured
# between 600k and 6M rows say nothing about where shuffle/memory
# pressure bends the curve, so the queries that measured >=0.65 at
# 10x get one more decade: 6M -> 60M-row-lineitem-equivalent (500k
# documents - the family is documents-bound), timed between SF1_DIR
# and SF10_DIR, emitted as BENCH_SF10.json.
SF10_QUERIES = [
    "winnowing_overlap_pairs_capped",
    "dedup_components",
    "pagerank_near_dup",
    "dedup_simhash",
    "kneser_ney_nll_scores",
    "dedup_minhash_lsh",
    # exact (uncapped) winnowing last: its pair join is the known
    # explosion the cap exists for — if it dies at 100x, that is a
    # recorded finding and must not poison the other measurements
    "winnowing_overlap_pairs",
    # r8: the flagship + anchors get the second decade too — executed
    # evidence at 60M rows for PIT, the TPC-H scan/join shapes, the
    # collapse-flattened Jaccard star, k-means, filtered ANN (500k
    # vectors), and sessionization
    "pit_asof_join",
    "pit_multi_feature_view",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "dedup_jaccard_prefix",
    "kmeans_embedding_clusters",
    "ann_filtered_topk",
    "events_sessionize_batch",
    "greedy_shingle_cover_picks",
    "kcenter_diverse_sample",
    "char_entropy_by_lang",
    "minhash_band_sweep",
    "funnel_within_ttl",
    # r9 (r8 verdict #1/#5): blocked edit-distance family (collapsed)
    # + the remaining heavy LLM paths. hard_negative_pairs is EXPECTED
    # to trip the 100k query guard at 500k vectors (guard_trips).
    "fuzzy_part_name_pairs",
    "entity_resolution_parts",
    "dedup_ngram_jaccard",
    "lsh_dedup_quality_report",
    "ann_recall_report",
    # r12: half-tables 1-bit multiprobe — tables-vs-probes trade,
    # with its recall report so the trade is measured AT scale
    "ann_lsh_multiprobe_topk",
    "ann_multiprobe_recall_report",
    "hard_negative_pairs",
    "hard_negative_pairs_lsh",
    "fuzzy_part_name_stats",
    # r12: duplicate-span family (exact-collapse pre-pass — work
    # scales with distinct-text token volume under copy duplication)
    "dedup_duplicate_spans",
    "dedup_duplicate_span_stats",
    "dedup_span_strip",
    # r10: fused one-scan events report — the tier rows are the
    # crossover evidence vs three separate fact scans
    "events_scalar_report",
    # r10: engine-derived LSH resolution (target_bucket_rows)
    "hard_negative_pairs_lsh_auto",
    # r10 session 2: spectral audit (d² partials over 500k vectors),
    # semantic decontamination (benchmark grows with the corpus —
    # 10k broadcast queries at 100x), entropy rate (one window pass)
    "embedding_effective_rank",
    "embedding_decontaminate",
    "embedding_decontaminate_fixed_benchmark",
    "event_entropy_rate",
    "embedding_decontaminate_sweep",
    "dp_noisy_event_counts",
    "split_no_neardup_leakage",
    # r13: bitemporal retrieval (events-sized two-axis range join),
    # HITS (graph-sized iterative joins), t-closeness (QI-domain-
    # bounded class table -- expected ~flat)
    "pit_bitemporal",
    "hits_user_item",
    "t_closeness_audit",
    # r13: 16 literal-plane folds per row -- scan-shaped, must stay
    # linear
    "jl_distortion_audit",
    # r13: two argmax passes + user-sized moments -- both scan-shaped
    "serving_skew_audit",
    "cuped_adjusted_lift",
    # r13: rank-sum over the value domain / 16-sign one-pass sketch
    "mannwhitney_click_view",
    "ams_f2_moment_audit",
]

# key columns to shift per table: {table: {col: stride_source_table}}
# stride_source_table names the table whose max(key)+1 defines the
# shift unit, so FKs move in lockstep with their parents.
_KEYS: dict[str, dict[str, tuple[str, str]]] = {
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "part": {"p_partkey": ("part", "p_partkey")},
    "orders": {
        "o_orderkey": ("orders", "o_orderkey"),
        "o_custkey": ("customer", "c_custkey"),
    },
    "lineitem": {
        "l_orderkey": ("orders", "o_orderkey"),
        "l_partkey": ("part", "p_partkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
    },
    "events": {
        "event_id": ("events", "event_id"),
        "user_id": ("events", "user_id"),
    },
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
}
_DIMS = ["region", "nation"]  # fixed-cardinality: copied once

# Scale-critical slice (VERDICT r5 #2): PIT, the dedup/near-dup/graph
# family, ANN, token-budget selection, sessionize, packing, and two
# TPC-H anchors. Kept to ~20 so the 10x leg stays inside one sitting.
SCALE_QUERIES = [
    "pit_asof_join",
    "pit_multi_feature_view",
    "pull_latest",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_jaccard_prefix",
    # r12: exact substring-level duplicate spans (Lee et al. family) —
    # anchors are distinct-text-token-sized; the member table is the
    # output fan-out, the stats twin the bounded form, the strip the
    # corpus rewrite (cleaned text built per distinct text)
    "dedup_duplicate_spans",
    "dedup_duplicate_span_stats",
    "dedup_span_strip",
    "dedup_embedding_cosine_lsh",
    "dedup_components",
    "pagerank_near_dup",
    "kcore_user_item",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "per_lang_token_budget",
    "events_sessionize_batch",
    "pack_sequences_2048",
    "covisitation_topk_items",
    "tfidf_top_terms",
    "text_lang_quality_rollup",
    # r6 additions — each has a quadratic/iterative/global-order
    # failure mode the harness must rule out at 10x
    "kmeans_embedding_clusters",
    "semdedup_embedding_report",
    "winnowing_overlap_pairs",
    "winnowing_overlap_pairs_capped",
    "label_propagation_communities",
    "watermark_late_arrival_audit",
    "ks_test_click_view_value",
    "kneser_ney_nll_scores",
    "logreg_quality_weights",
    "ols_price_model",
    "cms_join_size_audit",
    # r8 additions — scale-relevant new components: filtered ANN
    # (label-blocked matmul volume), char entropy (corpus-sized
    # explode), band sweep + blocking report (collapse-backed dedup
    # family), TTL funnel + checksums (event-scan shapes)
    "ann_filtered_topk",
    "char_entropy_by_lang",
    "minhash_band_sweep",
    "blocking_quality_report",
    "funnel_within_ttl",
    "daily_row_checksums",
    "greedy_shingle_cover_picks",
    "kcenter_diverse_sample",
    # r9 additions (r8 verdict #1): the blocked edit-distance family —
    # the one cost law that bends with block growth. Both now collapse
    # identical (name, brand, type) records before the quadratic
    # within-block compare (registry_analytics._fuzzy_part_collapsed);
    # entity resolution is output-linear, the pair query's OUTPUT is
    # inherently quadratic under the harness's same-name duplication
    # (every copy-pair is a true match) while its COMPARE volume stays
    # distinct-tuple-sized.
    "fuzzy_part_name_pairs",
    "entity_resolution_parts",
    # r9 additions (r8 verdict #5): the remaining heavy LLM-pipeline
    # paths. hard_negative_pairs trips the 100k ANN query guard at the
    # second decade BY DESIGN (recorded as guard_trips, not failed);
    # hard_negative_pairs_lsh is its collect-free pair-mining path.
    "dedup_ngram_jaccard",
    "lsh_dedup_quality_report",
    "ann_recall_report",
    "ann_lsh_multiprobe_topk",
    "ann_multiprobe_recall_report",
    "hard_negative_pairs",
    "hard_negative_pairs_lsh",
    # counts the pair query's quadratic output in collapsed time —
    # the executed form of SCALING.md's normalization argument
    "fuzzy_part_name_stats",
    # r10: fused one-scan events report (grouping sets + reused
    # exchange) — compare its tier rows against the summed trio
    "events_scalar_report",
    # r10: derived-resolution miner — bucket population pinned to the
    # target as the distinct corpus grows
    "hard_negative_pairs_lsh_auto",
    # r10 session 2: the three new components (spectral audit,
    # semantic decontamination, entropy rate)
    "embedding_effective_rank",
    "embedding_decontaminate",
    "embedding_decontaminate_fixed_benchmark",
    "event_entropy_rate",
    "embedding_decontaminate_sweep",
    "dp_noisy_event_counts",
    "split_no_neardup_leakage",
    # r13: bitemporal retrieval (events-sized two-axis range join),
    # HITS (graph-sized iterative joins), t-closeness (QI-domain-
    # bounded class table -- expected ~flat)
    "pit_bitemporal",
    "hits_user_item",
    "t_closeness_audit",
    # r13: 16 literal-plane folds per row -- scan-shaped, must stay
    # linear
    "jl_distortion_audit",
    # r13: two argmax passes + user-sized moments -- both scan-shaped
    "serving_skew_audit",
    "cuped_adjusted_lift",
    # r13: rank-sum over the value domain / 16-sign one-pass sketch
    "mannwhitney_click_view",
    "ams_f2_moment_audit",
]


def _strides(spark) -> dict[tuple[str, str], int]:
    """max(key)+1 per (table, col) that ever serves as a stride unit."""
    out: dict[tuple[str, str], int] = {}
    for table, cols in _KEYS.items():
        for _col, src in cols.items():
            if src not in out:
                src_table, src_col = src
                m = (
                    read_table(spark, SF01_DIR, src_table)
                    .agg(F.max(src_col).cast("long"))
                    .first()[0]
                )
                out[src] = int(m) + 1
    return out


def generate(
    spark, dst_dir: str = SF1_DIR, n_copies: int = N_COPIES
) -> None:
    """Write an ``n_copies`` key-shifted union to ``dst_dir``
    (idempotent)."""
    marker = os.path.join(dst_dir, "_GENERATED")
    if os.path.exists(marker):
        return
    os.makedirs(dst_dir, exist_ok=True)
    strides = _strides(spark)
    for t in _DIMS:
        read_table(spark, SF01_DIR, t).write.mode("overwrite").parquet(
            f"{dst_dir}/{t}.parquet"
        )
    for t, cols in _KEYS.items():
        base = read_table(spark, SF01_DIR, t)
        # one distributed plan: cross the table with copy indices and
        # shift every key column by i * stride — no driver loop over
        # copies, one shuffle-free (broadcast) fan-out scan.
        copies = spark.range(n_copies).withColumnRenamed("id", "__copy")
        df = base.crossJoin(F.broadcast(copies))
        for col, src in cols.items():
            df = df.withColumn(
                col, (F.col(col) + F.col("__copy") * F.lit(strides[src])).cast("long")
            )
        # enough file-level split parallelism for a 32-core scan
        # without tiny-file overhead, scaled with the copy count
        nparts = 16 if t in ("lineitem", "orders", "events") else 8
        nparts = nparts * max(1, n_copies // N_COPIES)
        df.drop("__copy").repartition(nparts).write.mode("overwrite").parquet(
            f"{dst_dir}/{t}.parquet"
        )
        print(f"  generated {t} x{n_copies}", file=sys.stderr)
    with open(marker, "w") as f:
        f.write(f"copies={n_copies} base={SF01_DIR}\n")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time_e2e(spark, name: str, sf_dir: str, runs: "int | None" = None) -> float:
    """End-to-end seconds: build the plan + execute to a noop sink,
    median of `runs` full rebuild+execute cycles (prepare included —
    the e2e accounting regime; see bench.py/README). Default 3 cycles;
    ``SPARK_GRAFT_SCALE_RUNS`` raises it for re-measurement passes
    (r9 verdict #5: single-window 3-run medians left the
    pit_multi_feature_view exponent ambiguous)."""
    from feast_hive_spark import registry as registry_mod

    if runs is None:
        runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))

    def _drop_plan_caches() -> None:
        # the r6 prepared-plan cache + job/plan memo would otherwise
        # turn every rebuild into a cache hit and the timed cycles
        # would measure only the residual plan — scale exponents need
        # the FULL build+execute cost at both scales; reset also frees
        # the checkpoint blocks each rebuild cycle would accumulate
        registry_mod.reset(spark)

    fn = REGISTRY[name][0]
    # one untimed warmup cycle: codegen + base-scan page cache
    _drop_plan_caches()
    _noop(fn(spark, sf_dir))
    samples = []
    for _ in range(runs):
        _drop_plan_caches()
        t0 = time.perf_counter()
        _noop(fn(spark, sf_dir))
        samples.append(time.perf_counter() - t0)
    return sorted(samples)[len(samples) // 2]


_RESULT_MARK = "TIER100_RESULT "
_SPARK_TMP_GLOBS = ("blockmgr-*", "spark-*", "temporaryReader-*")


def _spark_tmp_dirs() -> set[str]:
    import glob as _glob
    import tempfile as _tempfile

    tmp = _tempfile.gettempdir()
    out: set[str] = set()
    for pat in _SPARK_TMP_GLOBS:
        out.update(_glob.glob(os.path.join(tmp, pat)))
    return out


def _clean_spark_residue(before: set[str]) -> int:
    """Remove Spark scratch dirs a crashed child JVM left in /tmp.

    The r7 tier100 run left 22 GB of blockmgr shuffle spill behind a
    driver OOM — enough to fail the NEXT query on disk space. Only
    dirs that appeared after ``before`` was snapshotted are touched,
    so a concurrent live session's scratch is never at risk (the
    harness itself is serialized anyway). Returns bytes removed."""
    import shutil

    removed = 0
    for d in _spark_tmp_dirs() - before:
        try:
            removed += sum(
                os.path.getsize(os.path.join(root, fn))
                for root, _dirs, fns in os.walk(d, onerror=lambda e: None)
                for fn in fns
                if os.path.exists(os.path.join(root, fn))
            )
            shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass
    return removed


def _is_guard(rec: dict) -> bool:
    """True when a tier measurement died on an operator's DOCUMENTED
    scale guard (a typed, deliberate refusal — e.g. the ANN family's
    AnnQueryGuardError past MAX_QUERY_ROWS) rather than a real
    failure; reported under ``guard_trips``, not ``failed``."""
    return any(
        "AnnQueryGuardError" in str(rec.get(k, ""))
        for k in ("error", "error_sf1", "error_sf10")
    )


def _tier100_child(name: str) -> None:
    """Measure ONE query between the 10x and 100x tiers and print a
    single machine-readable result line. Runs in its own process so a
    driver-JVM OOM kills only this measurement — the r7 run showed one
    simhash OOM poisoning every later query with spurious
    stopped-SparkContext errors. The two tiers get SEPARATE try
    blocks: a surviving 10x timing is kept even when 100x dies."""
    spark = get_spark("bench-scale-100x-child")
    spark.sparkContext.setLogLevel("ERROR")
    rec: dict = {}
    try:
        spark.catalog.clearCache()
        rec["sec_sf1"] = round(_time_e2e(spark, name, SF1_DIR), 3)
    except Exception as exc:  # noqa: BLE001
        rec["error_sf1"] = f"{type(exc).__name__}: {exc}"[:300]
    if "error_sf1" not in rec:
        try:
            spark.catalog.clearCache()
            rec["sec_sf10"] = round(_time_e2e(spark, name, SF10_DIR), 3)
        except Exception as exc:  # noqa: BLE001
            rec["error_sf10"] = f"{type(exc).__name__}: {exc}"[:300]
    if "sec_sf1" in rec and "sec_sf10" in rec:
        rec["ratio"] = round(rec["sec_sf10"] / rec["sec_sf1"], 2)
        rec["exponent"] = round(
            math.log(rec["sec_sf10"] / rec["sec_sf1"]) / math.log(10), 3
        )
    if name in TIER_NOTES:
        rec["note"] = TIER_NOTES[name]
    # print BEFORE spark.stop(): the result must survive even a hang
    # or crash during JVM teardown
    print(_RESULT_MARK + json.dumps(rec), flush=True)
    spark.stop()


def _run_tier100_subprocess(name: str, timeout_sec: int) -> dict:
    """Fork one measurement child and parse its result line. Any hard
    death (OOM-killed JVM, nonzero exit, timeout, no result line) is
    recorded as an error dict — a finding, never a harness abort."""
    import subprocess

    before = _spark_tmp_dirs()
    cmd = [sys.executable, os.path.abspath(__file__), "--tier100", "--one", name]
    try:
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=timeout_sec
        )
    except subprocess.TimeoutExpired:
        residue = _clean_spark_residue(before)
        return {"error": f"timeout after {timeout_sec}s", "_residue_bytes": residue}
    rec = None
    for line in proc.stdout.splitlines():
        if line.startswith(_RESULT_MARK):
            rec = json.loads(line[len(_RESULT_MARK):])
    residue = _clean_spark_residue(before)
    if rec is None:
        tail = (proc.stderr or "").strip().splitlines()[-3:]
        rec = {
            "error": (
                f"child exited {proc.returncode} with no result: "
                + " | ".join(tail)
            )[:300]
        }
    if residue > (1 << 30):
        rec["_residue_bytes"] = residue
    return rec


def main_tier100() -> None:
    """The second decade (r6 verdict #2): time the >=0.65-exponent
    family between the 10x and 100x datasets and emit BENCH_SF10.json.
    Same accounting as the first decade (e2e, cold plan caches,
    median of 3, engine defaults) — but each query runs in its OWN
    subprocess (see _tier100_child) and its /tmp scratch is reclaimed
    after any failure, so one OOM can neither poison later
    measurements nor starve them of disk."""
    if "--one" in sys.argv:
        _tier100_child(sys.argv[sys.argv.index("--one") + 1])
        return
    names = [a for a in sys.argv[1:] if a in REGISTRY] or [
        n for n in SF10_QUERIES if n in REGISTRY
    ]
    timeout_sec = int(os.environ.get("SPARK_GRAFT_TIER100_TIMEOUT", "2700"))
    spark = get_spark("bench-scale-100x")
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, SF1_DIR, N_COPIES)
    generate(spark, SF10_DIR, N_COPIES_100)

    rows_10x = spark.read.parquet(f"{SF1_DIR}/lineitem.parquet").count()
    rows_100x = spark.read.parquet(f"{SF10_DIR}/lineitem.parquet").count()
    # the parent's session must be DOWN while children measure — two
    # concurrent local JVMs inflate every timing ~30% (see memory
    # protocol); children own the machine one at a time
    spark.stop()

    partial_path = os.path.join(_HERE, "BENCH_SF10_partial.tmp")
    results: dict[str, dict] = {}
    if os.path.exists(partial_path):
        with open(partial_path) as f:
            results = json.load(f)
        print(f"  resuming: {len(results)} already measured", file=sys.stderr)
    for name in names:
        if name in results:
            continue
        rec = _run_tier100_subprocess(name, timeout_sec)
        results[name] = rec
        if "exponent" in rec:
            print(
                f"  {name}: {rec['sec_sf1']:.2f}s -> {rec['sec_sf10']:.2f}s  "
                f"ratio {rec['ratio']:.2f}x  exponent {rec['exponent']:.3f}",
                file=sys.stderr,
            )
        else:
            err = rec.get("error") or rec.get("error_sf1") or rec.get("error_sf10")
            print(f"  {name}: FAILED {err}", file=sys.stderr)
        with open(partial_path, "w") as f:
            json.dump(results, f)

    # merge with a prior artifact (same contract as the tier-10
    # main()): names measured this run override, everything else is
    # kept — lets a fix or an addition re-measure a subset without
    # discarding the rest of the decade's evidence
    out_path = os.path.join(_HERE, "BENCH_SF10.json")
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prev = json.load(f).get("queries", {})
            for k, v in prev.items():
                results.setdefault(k, v)
        except (json.JSONDecodeError, OSError):
            pass
    # declared-semantics notes apply to EVERY row, measured this run
    # or merged from a prior one (r13: stamping only on re-measure
    # left merged rows bare)
    for k, note in TIER_NOTES.items():
        if k in results:
            results[k]["note"] = note

    # three distinct findings (r7 conflated the first two):
    # flagged — ran, but superlinear; failed — could not produce an
    # exponent; guard_trips — an operator's documented scale guard
    # fired (r9: hard_negative_pairs' AnnQueryGuardError past 100k
    # query vectors is EXPECTED behavior, the operator's contract
    # points corpus-sized runs at hard_negative_pairs_lsh)
    guard_trips = sorted(
        n for n, r in results.items()
        if "exponent" not in r and _is_guard(r)
    )
    failed = sorted(
        n for n, r in results.items()
        if "exponent" not in r and not _is_guard(r)
    )
    flagged = sorted(
        n
        for n, r in results.items()
        if r.get("exponent", -99) > EXPONENT_FLAG
    )
    payload = {
        "metric": "sf1_to_sf10_scaling",
        "n_copies": N_COPIES_100,
        "lineitem_rows": {"sf1": rows_10x, "sf10": rows_100x},
        "accounting": (
            "e2e (plan build + eager jobs + noop-sink execute), median "
            "of 3; one subprocess per query (fatal-failure isolation)"
        ),
        "conf": (
            "engine defaults (AQE on; no bench-session tuning); "
            f"driver heap {os.environ.get('SPARK_GRAFT_DRIVER_MEM', '8g')} "
            "(the single local JVM holds all 32 executor threads; the "
            "8g test default is ~250MB/thread — far below any real "
            "executor at the 60M-row tier)"
        ),
        "exponent_flag_threshold": EXPONENT_FLAG,
        "flagged": flagged,
        "failed": failed,
        "guard_trips": guard_trips,
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    if os.path.exists(partial_path):
        os.remove(partial_path)
    print(json.dumps(
        {k: payload[k] for k in ("metric", "flagged", "failed", "guard_trips")}
    ))


def main() -> None:
    names = [a for a in sys.argv[1:] if a in REGISTRY] or [
        n for n in SCALE_QUERIES if n in REGISTRY
    ]
    missing = [n for n in SCALE_QUERIES if n not in REGISTRY]
    if missing:
        print(f"WARNING: not in REGISTRY, skipped: {missing}", file=sys.stderr)

    spark = get_spark("bench-scale")  # engine defaults: AQE stays on
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark)

    rows_1x = read_table(spark, SF01_DIR, "lineitem").count()
    rows_10x = spark.read.parquet(f"{SF1_DIR}/lineitem.parquet").count()

    here = os.path.dirname(os.path.abspath(__file__))
    partial_path = os.path.join(here, "BENCH_SF1_partial.tmp")
    results: dict[str, dict] = {}
    if os.path.exists(partial_path):  # resume an interrupted run
        with open(partial_path) as f:
            results = json.load(f)
        print(f"  resuming: {len(results)} already measured", file=sys.stderr)
    for name in names:
        if name in results:
            continue
        spark.catalog.clearCache()
        t1 = _time_e2e(spark, name, SF01_DIR)
        spark.catalog.clearCache()
        t10 = _time_e2e(spark, name, SF1_DIR)
        exp = math.log(t10 / t1) / math.log(N_COPIES)
        results[name] = {
            "sec_sf01": round(t1, 3),
            "sec_sf1": round(t10, 3),
            "ratio": round(t10 / t1, 2),
            "exponent": round(exp, 3),
        }
        if name in TIER_NOTES:
            results[name]["note"] = TIER_NOTES[name]
        print(
            f"  {name}: {t1:.2f}s -> {t10:.2f}s  "
            f"ratio {t10 / t1:.2f}x  exponent {exp:.3f}",
            file=sys.stderr,
        )
        with open(partial_path, "w") as f:
            json.dump(results, f)
    spark.stop()

    # merge with a prior artifact: names measured this run override,
    # everything else is kept (lets a fix re-measure one query)
    out_path = os.path.join(here, "BENCH_SF1.json")
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prev = json.load(f).get("queries", {})
            for k, v in prev.items():
                results.setdefault(k, v)
        except (json.JSONDecodeError, OSError):
            pass

    for k, note in TIER_NOTES.items():
        if k in results:
            results[k]["note"] = note

    flagged = sorted(
        n for n, r in results.items() if r["exponent"] > EXPONENT_FLAG
    )
    payload = {
        "metric": "sf0.1_to_sf1_scaling",
        "n_copies": N_COPIES,
        "lineitem_rows": {"sf01": rows_1x, "sf1": rows_10x},
        "accounting": "e2e (plan build + eager jobs + noop-sink execute), median of 3",
        "conf": "engine defaults (AQE on; no bench-session tuning)",
        "exponent_flag_threshold": EXPONENT_FLAG,
        "flagged": flagged,
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    if os.path.exists(partial_path):
        os.remove(partial_path)
    print(json.dumps({k: payload[k] for k in ("metric", "flagged")}))


if __name__ == "__main__":
    if "--tier100" in sys.argv:
        sys.argv.remove("--tier100")
        main_tier100()
    else:
        main()
