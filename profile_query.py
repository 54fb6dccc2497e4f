#!/usr/bin/env python
"""Per-query profiling tool for the optimization rounds.

For each named registry query, reproduces the bench session protocol
(same conf, cached base tables, warmup), then:
- times N noop-sink executions (median + spread),
- writes `.explain("formatted")` to plans/r13/<name>_<tag>.txt,
- prints a per-stage breakdown (from the status tracker) of the
  final timed run, so shuffle-heavy / Python-boundary stages are
  visible without the UI.

Usage: python profile_query.py [--tag before|after] name [name ...]
"""

from __future__ import annotations

import os
import sys
import time

from bench import bench_conf, _noop
from feast_hive_spark.registry import REGISTRY
import feast_hive_spark.registry_analytics  # noqa: F401
import feast_hive_spark.registry_corpus  # noqa: F401
import feast_hive_spark.registry_ext  # noqa: F401
import feast_hive_spark.registry_rel  # noqa: F401
from feast_hive_spark.session import get_spark
from feast_hive_spark.sources.tables import TABLES, register_views


def main() -> None:
    args = sys.argv[1:]
    tag = "before"
    if args and args[0] == "--tag":
        tag = args[1]
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault(
        "SPARK_GRAFT_SCAN_PARTITIONS",
        "documents=8,lineitem=8,orders=8,events=8",
    )
    spark = get_spark("profile")
    for k, v in bench_conf(0.1).items():
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, sf_dir)
    for t in TABLES:
        spark.catalog.cacheTable(t)

    here = os.path.dirname(os.path.abspath(__file__))
    outdir = os.path.join(here, "plans", "r14")
    os.makedirs(outdir, exist_ok=True)

    # burn-in (same rationale as bench.py)
    spark.sql("SELECT 1").collect()
    for burn in ("q3_shipping_priority", "pit_asof_join"):
        _noop(REGISTRY[burn][0](spark, sf_dir))

    st = spark.sparkContext.statusTracker()

    for name in args:
        if name not in REGISTRY:
            print(f"SKIP {name}: not in registry")
            continue
        # full bench hygiene order (r14): clearing the block-manager
        # cache WITHOUT dropping the plan/memo caches hands back
        # memoized frames whose cache mark was just cleared — their
        # consumers then re-execute the shared subtree per run, a
        # state the bench protocol (which clears both) never sees.
        from feast_hive_spark import registry as registry_mod

        spark.catalog.clearCache()
        for t in TABLES:
            spark.catalog.cacheTable(t)
            spark.table(t).count()
        registry_mod.reset(spark)
        t0 = time.perf_counter()
        df = REGISTRY[name][0](spark, sf_dir)
        cold = time.perf_counter() - t0
        _noop(df)  # warmup
        runs = []
        jobs_before = set(st.getJobIdsForGroup() or [])
        for i in range(7):
            if i == 6:
                jobs_before = set(st.getJobIdsForGroup() or [])
            spark.sparkContext.setJobDescription(f"{name} timed {i}")
            t0 = time.perf_counter()
            _noop(df)
            runs.append(time.perf_counter() - t0)
        runs.sort()
        med = runs[len(runs) // 2]
        # plan capture
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        n_py = (
            plan.count("BatchEvalPython")
            + plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
        )
        print(
            f"{name}: exec median {med:.3f}s "
            f"[{runs[0]:.3f},{runs[-1]:.3f}] cold {cold:.3f}s | "
            f"Exchange x{n_ex}, python-nodes x{n_py} -> {path}"
        )
        # stage breakdown of the last run
        jobs_after = set(st.getJobIdsForGroup() or [])
        new_jobs = sorted(jobs_after - jobs_before)
        rows = []
        for j in new_jobs:
            ji = st.getJobInfo(j)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                rows.append((sid, si.name.split("\n")[0][:90], si.numTasks))
        for sid, nm, nt in rows:
            print(f"    stage {sid} tasks={nt} {nm}")

    spark.stop()


if __name__ == "__main__":
    main()
