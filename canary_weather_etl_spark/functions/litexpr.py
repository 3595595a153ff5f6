"""JVM-parsed literal-expression builders (r14 optimization).

The iterative ML operators (Lloyd k-means, PQ/IVFADC, spectral power
iteration, MMR) re-broadcast bounded driver models as LITERAL arrays
inside every round's expression tree. Building those trees one
``F.lit(v).cast("long")`` at a time costs two py4j round-trips per
element — measured (r14, scripts-level probe): constructing the k=8
three-round assignment tree element-wise took ~400x longer than parsing
the identical expression from one SQL string, because each py4j call is
a synchronous socket round-trip while ``F.expr`` ships ONE string that
Catalyst's parser turns into the same ``Literal``/``LambdaFunction``
nodes JVM-side. This construction time is DRIVER wall-clock inside the
timed query region (guide §1: the bench times ``fn() + collect()``), and
at production scale it is also pure added latency per job submission.

Every helper here emits SQL text that parses to the IDENTICAL analyzed
expression the old element-wise builders produced — same literal values,
same types (``L`` suffix pins bigint where the old code cast to long),
same fold structure — so physical plans and results are bit-identical;
only the construction route changes. Equality is pinned by
tests/test_litexpr.py.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def long_array_sql(vals: Iterable[int]) -> str:
    """SQL text of an ARRAY<BIGINT> literal: ``array(1L,2L,...)``."""
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def long_array(vals: Iterable[int]) -> Column:
    """ARRAY<BIGINT> literal Column via one JVM parse."""
    return F.expr(long_array_sql(vals))


def sqdist_sql(vec_sql: str, cent: Iterable[int]) -> str:
    """Integer squared-L2 fold of a BIGINT-array column against a literal
    centroid, as one ``zip_with``/``aggregate`` SQL expression."""
    return (f"aggregate(zip_with({vec_sql}, {long_array_sql(cent)}, "
            f"(x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)")


def dot_sql(vec_sql: str, weights: Iterable[int]) -> str:
    """Integer dot-product fold against a literal weight vector."""
    return (f"aggregate(zip_with({vec_sql}, {long_array_sql(weights)}, "
            f"(x, y) -> x * y), 0L, (acc, x) -> acc + x)")


def argmin_struct_sql(vec_sql: str, cents: dict[int, list[int]]) -> str:
    """``array_min`` over (dist, cid) structs for every literal centroid —
    the nearest-centroid pick with ties to the smaller cid (lexicographic
    struct min), as SQL text. Field types match the old builders:
    d BIGINT, cid INT."""
    entries = ",".join(
        f"named_struct('d', {sqdist_sql(vec_sql, c)}, 'cid', {int(cid)})"
        for cid, c in sorted(cents.items()))
    return f"array_min(array({entries}))"


def num_array_sql(vals: Iterable[int]) -> str:
    """SQL text of an integer array literal matching F.array(*[F.lit(v)])
    py4j semantics: values inside int32 render as INT literals, larger as
    BIGINT (`L`) — a mixed array coerces to ARRAY<BIGINT> exactly like
    the old element-wise build's java Integer/Long auto-promotion."""
    def one(v: int) -> str:
        v = int(v)
        return str(v) if -2**31 <= v < 2**31 else f"{v}L"
    return "array(" + ",".join(one(v) for v in vals) + ")"


_STR_ESC = {"\\": "\\\\", "'": "\\'", "\n": "\\n", "\r": "\\r",
            "\t": "\\t", "\0": "\\0"}


def string_literal_sql(s: str) -> str:
    """SQL text of one STRING literal, value-exact under the default
    parser (escapedStringLiterals=false: backslash escapes are live, so
    backslash/quote/control characters must be escaped)."""
    return "'" + "".join(_STR_ESC.get(ch, ch) for ch in s) + "'"


def _num_literal_sql(v: int) -> str:
    v = int(v)
    return str(v) if -2**31 <= v < 2**31 else f"{v}L"


def int_map_sql(d: dict[int, int]) -> str:
    """SQL text of an integer-keyed map literal over sorted(d.items()),
    with F.lit-matching INT/BIGINT promotion per entry."""
    entries = ",".join(f"{_num_literal_sql(k)},{_num_literal_sql(v)}"
                       for k, v in sorted(d.items()))
    return f"map({entries})"


def string_array_sql(vals: Iterable[str]) -> str:
    """SQL text of an ARRAY<STRING> literal."""
    return "array(" + ",".join(string_literal_sql(v) for v in vals) + ")"


def string_int_map_sql(d: dict[str, int]) -> str:
    """SQL text of a MAP<STRING, INT> literal over sorted(d.items()) —
    the create_map(*[F.lit(x) ...]) shape as one parsed string."""
    entries = ",".join(f"{string_literal_sql(k)},{int(v)}"
                       for k, v in sorted(d.items()))
    return f"map({entries})"


def double_literal_sql(v: float) -> str:
    """SQL text of one DOUBLE literal, value-exact: repr() is the shortest
    round-trip decimal, and both the D-suffix literal and the
    string→double CAST parse to the IEEE-nearest double of that decimal —
    i.e. exactly the original Python float (== what F.lit(v) built)."""
    r = repr(float(v))
    if r in ("inf", "-inf", "nan"):  # no literal form — cast the name
        return f"CAST('{r}' AS DOUBLE)"
    # scientific notation ('1e-07') has no D-suffix form in the lexer
    return f"{r}D" if "e" not in r and "E" not in r \
        else f"CAST('{r}' AS DOUBLE)"


def double_array_sql(vals: Iterable[float]) -> str:
    """SQL text of an ARRAY<DOUBLE> literal."""
    return "array(" + ",".join(double_literal_sql(v) for v in vals) + ")"


def case_long_array_sql(key_sql: str, arrays: dict[int, list[int]]) -> str:
    """``CASE WHEN key = k THEN array(...) ...`` selecting a literal
    BIGINT array by an integer key column — the when-chain shape of
    similarity.ivf_residuals, as SQL text (no ELSE: unmatched keys yield
    NULL, same as the old F.when chain)."""
    whens = " ".join(
        f"WHEN {key_sql} = {int(k)} THEN {long_array_sql(v)}"
        for k, v in sorted(arrays.items()))
    return f"CASE {whens} END"
