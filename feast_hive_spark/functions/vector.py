"""Vector column functions for embedding operators (SURVEY §7).

All JVM-side (``F.aggregate``/``F.zip_with`` inside whole-stage
codegen) — no Python UDFs in the similarity hot path. The DuckDB
fragments mirror the exact arithmetic (cast to double, sequential
left-to-right summation) so cosine values are bit-comparable across
engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def duck_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def duck_norm(a: str) -> str:
    return f"sqrt({duck_dot(a, a)})"


def duck_cosine(a: str, b: str) -> str:
    return f"({duck_dot(a, b)} / ({duck_norm(a)} * {duck_norm(b)}))"


def np_matrix(pdf_col) -> "np.ndarray":
    """pandas column of float arrays -> (n, dim) float64 matrix
    ((0, 0) for an empty column — keeps downstream 2-D ops valid)."""
    import numpy as np

    vals = list(pdf_col)
    if not vals:
        return np.zeros((0, 0), dtype=np.float64)
    # cells arrive as numpy arrays (Arrow) or lists; np.array stacks
    # both without a per-cell list() round trip (r13, guide §4.2)
    return np.array(vals, dtype=np.float64)


def np_normalize(M: "np.ndarray") -> "np.ndarray":
    import numpy as np

    if M.size == 0:
        return M
    n = np.linalg.norm(M, axis=1)
    n[n == 0] = 1.0
    return M / n[:, None]


def _md5_unit(seed: str, p: int, d: int) -> int:
    """The ONE derivation every deterministic plane family shares
    (48-bit md5 prefix of "{seed}-{p}-{d}") — hyperplanes and
    sign_planes only differ in how they map this integer, so the
    engine/oracle reproducibility contract has a single definition."""
    return int(hashlib.md5(f"{seed}-{p}-{d}".encode()).hexdigest()[:12], 16)


def hyperplanes(n_planes: int, dim: int, seed: str = "simsearch") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH, derived
    from md5 — reproducible across sessions/engines with no RNG state.
    Values uniform in [-1, 1)."""
    return [
        [(_md5_unit(seed, p, d) % 2000) / 1000.0 - 1.0 for d in range(dim)]
        for p in range(n_planes)
    ]


def duck_dot_literal(vec: str, coefs: list[float]) -> str:
    """DuckDB dot product of a list column against literal plane
    coefficients — the oracle twin of a numpy ``M @ plane`` row."""
    lits = ", ".join(repr(float(c)) for c in coefs)
    return (
        f"list_sum(list_transform(range(1, {len(coefs)} + 1), "
        f"i -> CAST({vec}[i] AS DOUBLE) * [{lits}][i]))"
    )


def duck_sign_bucket(vec: str, planes: list[list[float]]) -> str:
    """DuckDB sign-LSH bucket id for one table: bit p set iff
    dot(vec, plane_p) >= 0 — exact twin of the numpy bucketer in
    operators/dedup.py:lsh_cosine_pairs (md5-derived planes make the
    whole scheme engine-reproducible)."""
    bits = [
        f"(CASE WHEN {duck_dot_literal(vec, plane)} >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")"


def sign_planes(k: int, dim: int, seed: str = "jl") -> list[list[float]]:
    """Deterministic ±1 projection matrix rows (Achlioptas 2003's
    database-friendly JL variant, sign-only case): entry (p, d) is
    +1 iff the md5 of "{seed}-{p}-{d}" is even — reproducible across
    sessions/engines with no RNG state, same derivation family as
    :func:`hyperplanes`."""
    return [
        [1.0 if _md5_unit(seed, p, d) % 2 == 0 else -1.0 for d in range(dim)]
        for p in range(k)
    ]
