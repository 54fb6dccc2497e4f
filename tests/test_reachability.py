"""Every engine function and class is reached by something other than a test.

A top-level ``def`` or ``class`` in ``feast_hive_spark/`` keeps its place
only if it is named outside its own definition by a non-test engine
module, a harness (``bench.py``, ``check_correctness.py``, ...) or
``perfbench/``; or if it is a registry query (``@register``-decorated);
or if it is public surface that no engine code calls, listed in
``_KEEP`` with its reason. Code that only tests reach is deleted, not
kept alive by its tests.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "feast_hive_spark"
HARNESSES = [
    "__spark_entry__.py",
    "audit_plans.py",
    "bench.py",
    "bench_scale.py",
    "check_correctness.py",
    "profile_query.py",
]

# public surface no engine code calls: (module path, name) -> reason
_KEEP = {
    ("sinks.py", "compact_online"): (
        "public sinks API: folds an online table's appended delta files "
        "into one snapshot; callers run it between materializations"
    ),
    ("types.py", "arrow_to_spark_type"): "SURVEY §1.2 type map, public",
    ("types.py", "spark_to_arrow_type"): "SURVEY §1.2 type map, public",
    ("types.py", "hive_to_value_type"): "SURVEY §1.2 type map, public",
    ("feast_plugin.py", "__getattr__"): (
        "module hook: Python calls it for the lazy Feast class names"
    ),
}


_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _is_register(decorator: ast.expr) -> bool:
    fn = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (isinstance(fn, ast.Name) and fn.id == "register") or (
        isinstance(fn, ast.Attribute) and fn.attr == "register"
    )


def _names(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Every identifier ``tree`` names, leaving out the subtree ``skip``:
    names, attributes and imports in code, and every identifier-shaped
    word in a string (``__all__`` entries, getattr keys, and a docstring
    that names a kernel as the twin of a registry query)."""
    out = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.update(_WORD.findall(node.value))
        stack.extend(ast.iter_child_nodes(node))
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _unreached() -> list[str]:
    engine = {p.relative_to(ENGINE).as_posix(): _parse(p) for p in ENGINE.rglob("*.py")}
    outside = [ROOT / h for h in HARNESSES] + [
        p for p in (ROOT / "perfbench").glob("*.py") if not p.name.startswith("test_")
    ]
    named_outside = set().union(*(_names(_parse(p)) for p in outside))
    named_in = {rel: _names(tree) for rel, tree in engine.items()}

    stray = []
    for rel, tree in sorted(engine.items()):
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if any(_is_register(d) for d in node.decorator_list):
                continue
            name = node.name
            if (rel, name) in _KEEP or name in named_outside:
                continue
            if any(name in names for other, names in named_in.items() if other != rel):
                continue
            if name in _names(tree, skip=node):
                continue
            stray.append(f"{rel}:{node.lineno} {name}")
    return stray


def test_every_engine_definition_has_a_non_test_caller():
    stray = _unreached()
    assert not stray, (
        "reached only by tests (delete it, or add it to _KEEP with a "
        f"reason if it is public surface): {stray}"
    )


def test_keep_list_names_live_definitions():
    """A keep-list entry whose definition is gone is stale."""
    for rel, name in _KEEP:
        tree = _parse(ENGINE / rel)
        assert any(
            getattr(node, "name", None) == name for node in tree.body
        ), f"{rel}:{name} is on the keep list but not defined"
