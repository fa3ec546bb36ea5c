"""Spark-SQL references of the vector family's nearest-codeword rule.

The package assigns every corpus row through one Arrow kernel
(``operators.similarity._vq``).  These SQL builders are the
Spark-semantics reference it is checked against: integer squared L2
(``_sq_sql``), ``array_min`` over ``struct(d, c)`` (ties to the lowest
index, NULL distances sort first), ANSI overflow.  The DuckDB oracles
replay the same expressions.
"""

from __future__ import annotations

from bigdata_20251_steam_spark.operators.similarity import _sq_sql


def _int_arr_sql(c: list[int]) -> str:
    """SQL literal text of an integer array (bigint elements)."""
    return "array(" + ",".join(f"{int(v)}L" for v in c) + ")"


def _int_assign_sql(q: str, cents: list[list[int]]) -> str:
    """:func:`_int_assign`'s argmin ``struct(d, c)`` over literal
    centroids: one JVM parse instead of ``k x 2`` py4j lambda builds per
    assignment expression.  The centroid literals render as SQL
    ``array(...L)`` text, which ConstantFolding collapses to one
    Literal.  Struct min: ties go to the lowest cluster index."""
    pairs = ",".join(
        f"named_struct('d', {_sq_sql(q, _int_arr_sql(c))}, 'c', {i})"
        for i, c in enumerate(cents)
    )
    return f"array_min(array({pairs}))"


def _pq_sub_assign_sql(codebook: list[list[int]], sub: str) -> str:
    """argmin code of one subspace slice over its literal codebook —
    integer squared L2, ties to the lowest code (struct min, the
    kmeans_exact rule)."""
    pairs = ",".join(
        f"named_struct('d', {_sq_sql(sub, _int_arr_sql(c))}, 'c', {i})"
        for i, c in enumerate(codebook)
    )
    return f"array_min(array({pairs})).c"


def _argmin_cell_sql(q: str, cm: str) -> str:
    """Nearest cell ``struct(d, c)`` of ``q`` over the centroid matrix
    ``cm`` — struct min, ties to the lowest cell (transform's 0-based
    index replays :func:`_int_assign`'s ``enumerate``)."""
    return (
        f"array_min(transform({cm}, (c, i) -> "
        f"named_struct('d', {_sq_sql(q, 'c')}, 'c', i)))"
    )


def _codes_sql(cb: str, q: str, subdim: int) -> str:
    """Per-subspace argmin codes of ``q`` over the codebook array ``cb``
    — ties to the lowest code via struct min."""
    sub = f"slice({q}, s * {int(subdim)} + 1, {int(subdim)})"
    return (
        f"transform({cb}, (cbs, s) -> array_min(transform(cbs, (w, ci) -> "
        f"named_struct('d', {_sq_sql(sub, 'w')}, 'c', ci))).c)"
    )
