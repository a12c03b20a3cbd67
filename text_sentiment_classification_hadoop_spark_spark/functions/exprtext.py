"""SQL-text builders for literal-codebook expressions.

The similarity/ANN operators embed driver-side constants (hyperplanes,
centroids, PQ codebooks) into the plan as literals. Building those
trees node-by-node through the py4j Column API costs a py4j round-trip
per node — seconds for a 4-segment × 8-codeword × 16-dim codebook —
and the resulting tree carries one lambda-function pair PER CODEWORD,
which Catalyst's analyzer resolves one by one (measured: ~2 s build +
~3.5 s first-analysis per k-means iteration at ANY data size).

Emitting the expression as ONE SQL string instead makes the build a
Python string-join (microseconds), ships it across py4j once, and the
``array_min(transform(codebook, p -> struct(distance, id)))`` shape
needs a constant number of lambdas regardless of codebook size, so
analysis cost stops scaling with codewords.

Numeric contract: every builder mirrors its Column-API twin op-for-op
(same fold order, same ``pround`` floor-rounding), so results are
bit-identical and the DuckDB oracles remain valid. ``repr(float)`` is
the shortest round-trip decimal; Spark's ``...D`` double literal parses
it back to the exact same IEEE value (verified incl. exponent forms).
"""

from __future__ import annotations

import math


def dlit(x: float) -> str:
    """Exact double literal: shortest round-trip repr + ``D`` suffix."""
    v = float(x)
    if math.isnan(v) or math.isinf(v):
        raise ValueError(f"non-finite literal: {v}")
    return f"{v!r}D"


def vec_lit(vals) -> str:
    """``array(<d>, ...)`` literal for a float vector."""
    return "array(" + ", ".join(dlit(x) for x in vals) + ")"


def books_lit(pairs) -> str:
    """``array(named_struct('i', <id>L, 'v', array(...)), ...)`` literal
    for an ``[(id, vector)]`` codebook."""
    return "array(" + ", ".join(
        f"named_struct('i', {int(i)}L, 'v', {vec_lit(v)})"
        for i, v in pairs) + ")"


def dot_txt(va: str, vb: str) -> str:
    """Mirror of ``similarity.dot_expr``: sequential fused fold."""
    return (f"aggregate(zip_with({va}, {vb}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)")


def norm_txt(v: str) -> str:
    """Mirror of ``similarity.norm_expr``."""
    return (f"sqrt(aggregate(transform({v}, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v))")


def cos_txt(va: str, vb: str) -> str:
    """Mirror of ``similarity.cosine_expr``."""
    return f"({dot_txt(va, vb)} / ({norm_txt(va)} * {norm_txt(vb)}))"


def pround_txt(e: str, n: int) -> str:
    """Mirror of ``functions.rounding.pround``."""
    m = float(10 ** n)
    return f"(floor(({e}) * {m!r}D + 0.5D) / {m!r}D)"


def nearest_cell_over_txt(vec: str, books_expr: str) -> str:
    """Nearest centroid by 6-dp-rounded cosine, ties → LOWEST cell id,
    over an ``array<struct<i,v>>`` expression — a :func:`books_lit`
    literal, or one :func:`subbooks_lit` sub-book picked per row by
    ``element_at`` (the two-level assignment).

    ``array_max`` over ``struct(cosine, -id)`` (struct ordering is
    lexicographic, so the negated id turns max-tie into min-id) —
    numerically identical to the Column-API
    ``array_position(arr, array_max(arr))`` first-match form."""
    cos6 = pround_txt(cos_txt(vec, "p.v"), 6)
    return (f"(- array_max(transform({books_expr}, "
            f"p -> named_struct('c', {cos6}, 'i', -p.i))).i)")


def nearest_cell_txt(vec: str, cents) -> str:
    """:func:`nearest_cell_over_txt` over a plan-time codebook literal."""
    return nearest_cell_over_txt(vec, books_lit(cents))


def subbooks_lit(groups) -> str:
    """``array(<books_lit>, ...)`` literal — per-GROUP sub-codebooks of
    a two-level (hierarchical IVF) codebook, indexed by group id
    (``element_at`` is 1-based: group ``g``'s sub-book is element
    ``g + 1``). ``groups`` is ``[(gid, gvec, [(cell_id, cvec), ...])]``
    sorted by contiguous gid 0..G-1. An EMPTY group (duplicate seed —
    excluded from routing, so its slot is never selected) carries a
    one-codeword placeholder rather than ``array()``, keeping every
    element identically typed."""
    return "array(" + ", ".join(
        books_lit(sub if sub else [(0, gv)])
        for _g, gv, sub in groups) + ")"


def pq_seg_cell_txt(vec: str, book, s: int, seg_len: int) -> str:
    """Nearest codeword for PQ segment ``s`` by 6-dp-rounded squared
    L2, ties → lowest code id (``array_min`` over struct(dist, id)),
    over a plan-time ``[(id, subvector)]`` codebook literal."""
    sub = f"slice({vec}, {s * seg_len + 1}, {seg_len})"
    dist6 = pround_txt(
        f"aggregate(zip_with({sub}, p.v, "
        "(x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), "
        "0.0D, (acc, v) -> acc + v)", 6)
    return (f"(array_min(transform({books_lit(book)}, "
            f"p -> named_struct('d', {dist6}, 'i', p.i))).i)")


def sign_lsh_bucket_txt(vec: str, planes) -> str:
    """Sign-LSH bucket id over literal hyperplanes: bit ``p`` set iff
    ``vec · plane_p ≥ 0``. One transform + integer-sum fold — constant
    lambda count for any plane count. ``planes`` is ``[(bit, weights)]``."""
    pl = "array(" + ", ".join(
        f"named_struct('p', {int(p)}, 'v', {vec_lit(w)})"
        for p, w in planes) + ")"
    dot = dot_txt(vec, "pl.v")
    return (f"aggregate(transform({pl}, "
            f"pl -> IF({dot} >= 0.0D, shiftleft(1L, pl.p), 0L)), "
            "0L, (a, b) -> a + b)")


def rp_array_txt(vec: str, mat, out_dims: int) -> str:
    """Random-projection output vector (each component 6-dp rounded,
    divided by sqrt(out_dims)) over a literal ``[(j, row)]`` matrix."""
    rows = "array(" + ", ".join(
        f"named_struct('j', {int(j)}, 'v', {vec_lit(r)})"
        for j, r in mat) + ")"
    comp = pround_txt(
        f"{dot_txt(vec, 'r.v')} / sqrt({dlit(float(out_dims))})", 6)
    return f"transform({rows}, r -> {comp})"


def nearest_cell_with_cos_txt(vec: str, cents) -> str:
    """Like :func:`nearest_cell_txt` but returns
    ``struct(cell, cos)`` — the assignment AND its 6-dp-rounded cosine,
    for cluster-quality aggregation. The argmax struct is evaluated
    twice (once per output field), a constant-factor cost on an
    already-narrow expression."""
    cos6 = pround_txt(cos_txt(vec, "p.v"), 6)
    best = (f"array_max(transform({books_lit(cents)}, "
            f"p -> named_struct('c', {cos6}, 'i', -p.i)))")
    return (f"named_struct('cell', -({best}).i, 'cos', ({best}).c)")
