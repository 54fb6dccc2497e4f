"""Self-test: the benchmark drives the engine only through its public surface.

The benchmark may import ``feast_hive_spark`` (names in its ``__all__``),
``feast_hive_spark.store``, ``feast_hive_spark.sinks``, ``__spark_entry__``
and ``check_correctness``, and use their public names. It fails if a
benchmark file imports any other engine module (``plans.memo``,
``plans.pit``, ``ckpt``, ``registry``, ...), names an engine cache, or reads
an underscore-prefixed name that the engine defines. ``run.py`` runs the
same check before every run. Run the tests with:

    python3 -m pytest perfbench/test_public_surface.py -q
"""

from __future__ import annotations

import ast
import glob
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

ALLOWED_MODULES = {
    "feast_hive_spark": None,  # filled from the engine's __all__
    "feast_hive_spark.store": {"SparkOfflineStore", "SparkOfflineStoreConfig", "RetrievalJob"},
    "feast_hive_spark.sinks": {"materialize_online", "read_online"},
    "__spark_entry__": {"queries", "oracle_sql"},
    "check_correctness": {"compare"},
}
# process-global engine state a benchmark must never read or reset
FORBIDDEN_WORDS = {"_PREPARED", "_PLAN_CACHE", "_MEMO", "_CAPTURE", "_TRACKED", "_DF_CACHE",
                   "PLAN_CACHE", "clear_prepared", "REGISTRY", "memo", "ckpt"}


def _engine_all() -> set[str]:
    tree = ast.parse(open(os.path.join(ROOT, "feast_hive_spark", "__init__.py")).read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            return set(ast.literal_eval(node.value))
    return set()


def _private_names(paths: list[str]) -> set[str]:
    """Underscore-prefixed (not dunder) names defined in ``paths``."""
    out = set()
    for path in paths:
        for node in ast.walk(ast.parse(open(path).read())):
            names = []
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.append(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                for t in node.targets if isinstance(node, ast.Assign) else [node.target]:
                    if isinstance(t, ast.Name):
                        names.append(t.id)
                    elif isinstance(t, ast.Attribute):
                        names.append(t.attr)
            elif isinstance(node, ast.arg):
                names.append(node.arg)
            out.update(n for n in names if n.startswith("_") and not n.startswith("__"))
    return out


def benchmark_files() -> list[str]:
    return sorted(
        p for p in glob.glob(os.path.join(HERE, "*.py"))
        if os.path.basename(p) != os.path.basename(__file__)
    )


def check_source(source: str, label: str, engine_private: set[str], own_private: set[str]) -> list[str]:
    allowed = dict(ALLOWED_MODULES, feast_hive_spark=_engine_all())
    found = []

    def bad(node, what):
        found.append(f"{label}:{getattr(node, 'lineno', '?')}: {what}")

    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("feast_hive_spark") and a.name not in allowed:
                    bad(node, f"imports engine module {a.name}")
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if mod.startswith("feast_hive_spark") or mod in allowed:
                if mod not in allowed:
                    bad(node, f"imports from engine module {mod}")
                    continue
                for a in node.names:
                    if a.name not in allowed[mod]:
                        bad(node, f"imports {mod}.{a.name}, not public surface")
        elif isinstance(node, ast.Attribute):
            if node.attr in engine_private and node.attr not in own_private:
                bad(node, f"reads engine-private name .{node.attr}")
            if node.attr in FORBIDDEN_WORDS:
                bad(node, f"reads engine state .{node.attr}")
        elif isinstance(node, ast.Name):
            if node.id in FORBIDDEN_WORDS:
                bad(node, f"names engine state {node.id}")
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            words = set(node.value.replace(".", " ").replace("/", " ").split())
            hit = words & FORBIDDEN_WORDS
            if hit or "feast_hive_spark.plans" in node.value:
                bad(node, f"string names engine internals {sorted(hit) or node.value!r}")
        elif isinstance(node, ast.Call) and isinstance(node.func, (ast.Name, ast.Attribute)):
            fn = node.func.id if isinstance(node.func, ast.Name) else node.func.attr
            if fn in {"__import__", "import_module"}:
                bad(node, "imports by name at run time")
            if fn in {"getattr", "setattr", "hasattr"} and len(node.args) > 1:
                arg = node.args[1]
                if not (isinstance(arg, ast.Constant) and not str(arg.value).startswith("_")):
                    bad(node, f"{fn} with a private or computed name")
    return found


def violations() -> list[str]:
    engine = glob.glob(os.path.join(ROOT, "feast_hive_spark", "**", "*.py"), recursive=True)
    engine_private = _private_names(engine)
    files = benchmark_files()
    own_private = _private_names(files)
    found = []
    for path in files:
        with open(path) as f:
            found += check_source(f.read(), os.path.basename(path), engine_private, own_private)
    return found


def test_benchmark_reads_no_private_engine_state():
    assert violations() == []


def test_detector_flags_private_reads():
    engine = glob.glob(os.path.join(ROOT, "feast_hive_spark", "**", "*.py"), recursive=True)
    engine_private = _private_names(engine)
    for snippet in (
        "from feast_hive_spark.registry import _PREPARED",
        "import feast_hive_spark.ckpt",
        "from feast_hive_spark.plans import memo",
        "from feast_hive_spark.plans.pit import get_historical_features",
        "from feast_hive_spark import sinks\nsinks._x",
        "import feast_hive_spark as f\nf.registry._PREPARED.clear()",
        "from feast_hive_spark.sources.tables import read_table",
        "getattr(obj, '_PLAN_CACHE')",
        "x = 'feast_hive_spark.plans.memo'",
    ):
        assert check_source(snippet, "snippet", engine_private | {"_x"}, set()), snippet
    assert check_source("from feast_hive_spark import FeatureView", "ok", engine_private, set()) == []
