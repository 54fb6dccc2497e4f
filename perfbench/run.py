"""Benchmark entry point: one run of a workload, or of each workload in
turn, each in a fresh process.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It pins the DuckDB answers of the registry
queries once per checkout (under ``.perfbench/``), starts a
fresh worker process with its own Spark local, metastore and snapshot
directories, relays the worker's result (the last stdout line) and removes
the run directory. With ``--trace 0`` the result holds the end-to-end
metrics, with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# byte copies of the engine's sf0.1 test tables the workloads read
DATA = os.path.join(HERE, "data")
sys.path.insert(0, HERE)

import test_public_surface  # noqa: E402
import worker  # noqa: E402

WORKER_TIMEOUT_S = 165
# Spark task slots (local[k]). On a 4-CPU machine k = 2 leaves cores to the
# JIT compiler, GC and the Python driver: in a same-window comparison,
# feature_store's median latency was 0.81-0.86 s at k = 2 against
# 0.90-1.12 s at k = 4, with a fifth less CPU per operation.
LOCAL_K = 2


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def prepare_oracles(root: str) -> str:
    """Pinned oracle answers, computed once per checkout and again when the
    engine's registry or the benchmark's query list changes."""
    out = os.path.join(root, ".perfbench", "oracle")
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "feast_hive_spark", "registry*.py"))):
        with open(path, "rb") as f:
            h.update(f.read())
    with open(os.path.join(HERE, "workloads.py"), "rb") as f:
        h.update(f.read())
    marker = os.path.join(out, f"complete-{h.hexdigest()[:16]}")
    if not os.path.exists(marker):
        env = dict(os.environ, PYTHONPATH=os.pathsep.join([HERE, root]))
        subprocess.run(
            [sys.executable, os.path.join(HERE, "pin_oracles.py"), DATA, out],
            cwd=root, env=env, check=True, timeout=800,
        )
        open(marker, "w").close()
    return out


def group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait until
    every member has ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30
    while group_alive(pgid) and time.time() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    for need in ("feast_hive_spark/__init__.py", "__spark_entry__.py", "check_correctness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return fail(f"engine file {need} not found under {ROOT}")
    violations = test_public_surface.violations()
    if violations:
        return fail("benchmark reads private engine state: " + "; ".join(violations))
    # "all" runs every workload in turn, each in its own fresh process
    names = sorted(worker.WARMUP_OPS) if args.workload == "all" else [args.workload]
    if not set(names) <= set(worker.WARMUP_OPS):
        return fail(f"unknown workload {args.workload}; have {sorted(worker.WARMUP_OPS)} or all")

    # a terminated run still stops its worker and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    oracle_dir = prepare_oracles(ROOT)
    for name in names:
        rc = run_worker(name, args.seed, args.seconds, args.trace, oracle_dir)
        if rc:
            return rc
    return 0


def run_worker(name: str, seed: int, seconds: float, trace: str, oracle_dir: str) -> int:
    """One run of one workload in a fresh worker process; relays its
    details and result lines."""
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{name}-{seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    k = min(LOCAL_K, len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        # Python workers import the engine too, so it goes on PYTHONPATH,
        # not only on the driver's sys.path
        PYTHONPATH=os.pathsep.join([HERE, ROOT]),
        SPARK_GRAFT_CPUS=str(k),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_METASTORE_DIR=os.path.join(run_dir, "metastore"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    log_path = os.path.join(run_dir, "worker.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), name, str(seed),
                 str(seconds), trace, DATA, oracle_dir, run_dir,
                 repr(time.time())],
                cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, start_new_session=True,
            )
            try:
                out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop_group(proc.pid)
                proc.communicate()
                return fail(f"worker exceeded {WORKER_TIMEOUT_S}s")
            finally:
                stop_group(proc.pid)
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines:
            with open(log_path) as log:
                sys.stderr.write(log.read()[-4000:])
            return fail(f"worker exited with {proc.returncode}")
        print("\n".join(lines), flush=True)
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
