"""One benchmark run in a fresh process: session, set-up, warm-up, timed loop.

Started by ``run.py``; prints a JSON details line and then the JSON result
line on stdout. Usage:

    python3 perfbench/worker.py <workload> <seed> <seconds> <trace 0|1> <data_dir> <oracle_dir> <run_dir> <spawn_time>
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

from probes import OpRecord, ProcTree, RssPeak, Tracer, jvm_beans

# Warm-up operations: a fixed count, not a duration, so every run starts
# timing at the same point of the JVM's warm-up. feature_store's is one
# whole cycle of its mix, which takes it past the steep part of its
# latency curve; registry_warm's, sixteen passes over its list after the
# untimed one-shot pass, take it to its plateau (see README.md).
WARMUP_OPS = {"feature_store": 11, "registry_warm": 144}
# The timed window is a fixed number of whole cycles of the mix, so every
# run with the same --seconds times the same operations: enough cycles to
# take about --seconds once warm, and at least MIN_CYCLES.
MIN_CYCLES = 2


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); the maximum below eleven samples."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def op_key(op) -> str:
    parts = [op.kind]
    for k, v in sorted(op.args.items()):
        if k == "entity":
            v = int(pd.util.hash_pandas_object(v[["user_id", "event_timestamp"]], index=False).sum())
        parts.append(f"{k}={v}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def main(argv: list[str]) -> int:
    name, seed, seconds, trace = argv[0], int(argv[1]), float(argv[2]), argv[3] == "1"
    data_dir, oracle_dir, run_dir, spawned = argv[4], argv[5], argv[6], float(argv[7])

    tree = ProcTree(os.getpid())
    rss = RssPeak(tree)
    rss.start()

    t0 = time.perf_counter()
    from feast_hive_spark import get_spark
    import workloads

    spark = get_spark(f"perfbench-{name}")
    get_spark_s = time.perf_counter() - t0
    tracer = Tracer(spark, trace)
    wl = workloads.WORKLOADS[name](workloads.Ctx(spark, tracer, data_dir, oracle_dir, run_dir))

    attempted = failed = 0
    errors: list[str] = []
    seen: set[str] = set()

    def checked(problem) -> None:
        nonlocal attempted, failed
        attempted += 1
        if problem:
            failed += 1
            if len(errors) < 5:
                errors.append(problem[:300])

    prepare_t0 = time.perf_counter()
    for problem in wl.setup():
        checked(problem)
    prepare_s = time.perf_counter() - prepare_t0
    seen.update(op_key(op) for op in wl.setup_ops)

    # warm-up and timed operations come from separate seed streams
    warm = wl.ops(np.random.default_rng([seed, 1]))
    for n in range(WARMUP_OPS[name]):
        op = next(warm)
        seen.add(op_key(op))
        tracer.op = -1000 - n
        try:
            checked(wl.check(op, wl.run(-1000 - n, op, OpRecord(-1, op.kind))))
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            checked(traceback.format_exc(limit=3))

    warmup_s = time.perf_counter() - prepare_t0 - prepare_s
    latencies, cpu_s, repeats = [], 0.0, 0
    timed = wl.ops(np.random.default_rng([seed, 2]))
    jvm0 = jvm_beans(spark)
    trace_overhead0 = tracer.overhead_s
    setup_s = time.time() - spawned
    steal0 = host_steal()
    n_timed = max(MIN_CYCLES, math.ceil(seconds / wl.cycle_s)) * wl.cycle
    for i in range(n_timed):
        op = next(timed)
        key = op_key(op)
        repeats += key in seen
        seen.add(key)
        rec = OpRecord(i, op.kind)
        cpu0 = tree.cpu()
        t = time.perf_counter()
        tracer.op = i
        try:
            with tracer.span("op"):
                result = wl.run(i, op, rec)
        except Exception:  # noqa: BLE001
            result, problem = None, traceback.format_exc(limit=3)
        else:
            problem = None
        lat = time.perf_counter() - t
        cpu1 = tree.cpu()
        if problem is None:
            try:
                problem = wl.check(op, result)
                if trace:
                    rec.counts.update(wl.counts(op))
            except Exception:  # noqa: BLE001
                problem = traceback.format_exc(limit=3)
        checked(problem)
        cpu_s += sum(cpu1.values()) - sum(cpu0.values())
        for role in cpu0:
            rec.counts[f"cpu_{role}_s"] = cpu1[role] - cpu0[role]
        if trace:
            rec.counts["cached_mb"] = tracer.cached_mb()
        rec.counts["latency_s"] = lat
        tracer.ops.append(rec)
        latencies.append(lat)
    steal1 = host_steal()
    jvm1 = jvm_beans(spark)
    peak_rss = rss.stop()

    n = len(latencies)
    tail_v, tail_p = tail(latencies)
    details = {
        "workload": name, "seed": seed, "ops": n, "attempted": attempted, "failed": failed,
        "errors": errors, "tail_percentile": round(tail_p, 2), "tail_samples": n,
        "repeat_share": repeats / n, "local_k": spark.sparkContext.defaultParallelism,
        "warmup_ops": WARMUP_OPS[name],
        "setup_parts_s": {
            "start_and_imports": round(setup_s - get_spark_s - prepare_s - warmup_s, 3),
            "get_spark": round(get_spark_s, 3), "prepare": round(prepare_s, 3),
            "warmup": round(warmup_s, 3),
        },
        "peak_rss_mb_by_role": {k: round(v) for k, v in rss.role_peak_mb.items()},
        "jvm_jit_s_timed": jvm1["jit_s"] - jvm0["jit_s"], "jvm_gc_s_timed": jvm1["gc_s"] - jvm0["gc_s"],
        # share of the machine's CPU time the hypervisor gave to other
        # guests during the timed window, from /proc/stat
        "host_steal_pct_timed": round(100 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 2),
    }
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "latency_p50_s": (median(latencies), "s"),
            "latency_tail_s": (tail_v, "s"),
            "throughput_per_s": (n / sum(latencies), "1/s"),
            "cpu_s_per_op": (cpu_s / n, "s"),
            "success_ratio": (1 - failed / attempted if attempted else 0.0, "ratio"),
        }
    else:
        metrics = layer_metrics(tracer, get_spark_s, latencies, jvm0, jvm1, trace_overhead0)
        metrics["memory.peak_rss_mb"] = (peak_rss, "MB")
        details["trace_file"] = write_trace(tracer, run_dir, name, seed)
    spark.stop()
    print(json.dumps(details), flush=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": max(attempted, 1), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def layer_metrics(tracer: Tracer, get_spark_s, latencies, jvm0, jvm1, overhead0) -> dict:
    from workloads import FAMILIES
    recs = tracer.ops
    n = max(len(recs), 1)
    # op ids: timed ops count from 0, set-up steps from -1 down, warm-up
    # ops from -1000 down
    per_op: dict[str, dict[int, float]] = {}
    setup_op: dict[str, dict[int, float]] = {}
    for s, self_s in tracer.self_times():
        d = per_op if s.op >= 0 else setup_op if s.op > -1000 else None
        if d is not None:
            d = d.setdefault(s.name, {})
            d[s.op] = d.get(s.op, 0.0) + self_s

    def span_s(name: str) -> float:
        return median(list(per_op.get(name, {}).values()))

    def count(key: str) -> float:
        return mean([r.counts[key] for r in recs if key in r.counts])

    build_s = span_s("plans.build") or median(
        [v for f in FAMILIES for v in per_op.get(f"registry.{f}.build", {}).values()]
    )
    exec_s = span_s("retrieval.exec")
    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "sources.resolve_s": (span_s("sources.resolve"), "s"),
        "store.call_s": (span_s("store.call"), "s"),
        "store.entity_rows": (count("entity_rows"), "count"),
        "plans.build_s": (build_s, "s"),
        "plans.build_jobs": (count("build_jobs"), "count"),
        "plans.build_py4j_calls": (count("build_py4j_calls"), "count"),
        "catalyst.analysis_ms": (count("analysis"), "ms"),
        "catalyst.optimization_ms": (count("optimization"), "ms"),
        "catalyst.planning_ms": (count("planning"), "ms"),
        "retrieval.exec_s": (exec_s, "s"),
        "retrieval.jobs": (count("exec_jobs"), "count"),
        "retrieval.stages": (count("exec_stages"), "count"),
        "retrieval.tasks": (count("exec_tasks"), "count"),
        "retrieval.rows": (count("rows"), "count"),
        "retrieval.arrow_mb": (count("arrow_mb"), "MB"),
        "storage.cached_mb": (recs[-1].counts.get("cached_mb", 0.0) if recs else 0.0, "MB"),
        "sinks.write_s": (span_s("sinks.write"), "s"),
        "sinks.bytes_written_mb": (count("bytes_written_mb"), "MB"),
        "sinks.files_written": (count("files_written"), "count"),
        "sinks.write_amplification": (count("write_amplification"), "ratio"),
        "sinks.lookup_s": (span_s("sinks.lookup"), "s"),
        "sinks.lookup_jobs": (count("lookup_jobs"), "count"),
    }
    for f in FAMILIES:
        # first builds come from the untimed one-shot pass in set-up
        m[f"registry.{f}.build_s"] = (median(list(setup_op.get(f"registry.{f}.build", {}).values())), "s")
        m[f"registry.{f}.exec_s"] = (
            median([per_op.get("retrieval.exec", {}).get(r.op, 0.0) for r in recs if r.kind == f]), "s"
        )
    m.update({
        "jvm.gc_s": (jvm1["gc_s"] - jvm0["gc_s"], "s"),
        "jvm.jit_s": (jvm1["jit_s"] - jvm0["jit_s"], "s"),
        "jvm.heap_used_mb": (jvm1["heap_used_mb"], "MB"),
        "cpu.jvm_s": (count("cpu_jvm_s"), "s"),
        "cpu.python_driver_s": (count("cpu_python_driver_s"), "s"),
        "cpu.python_workers_s": (count("cpu_python_workers_s"), "s"),
        "trace.latency_p50_s": (median(latencies), "s"),
        "trace.overhead_s_per_op": ((tracer.overhead_s - overhead0) / n, "s"),
    })
    return m


def write_trace(tracer: Tracer, run_dir: str, name: str, seed: int) -> str:
    out_dir = os.path.join(os.path.dirname(os.path.dirname(run_dir)), "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}-seed{seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": name, "seed": seed,
            "ops": [{"op": r.op, "kind": r.kind, **r.counts} for r in tracer.ops],
            "spans": [
                {"name": s.name, "op": s.op, "start": s.start, "end": s.end, "parent": s.parent}
                for s in tracer.spans
            ],
        }, f)
    return path


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
