"""ValueSource tree (Lucene.Net.Queries/Function/ValueSources/*.cs).

Each node composes a float32 expression exactly like the reference's
FunctionValues: every arithmetic node rounds to f32 (C# float ops), so
the composer emits CAST-per-node chains in BOTH dialects — Spark SQL
(FLOAT) for the engine's function_score/custom_score value_expr, and
DuckDB SQL (REAL) for the oracle side.

Covered constructors (one per reference class):
  const / double_const  ConstValueSource, DoubleConstValueSource
  field                 Int/Long/Float/DoubleFieldSource (typed column)
  linear                LinearFloatFunction  f32(slope*x + intercept)
  reciprocal            ReciprocalFloatFunction  f32(a / (m*x + b))
  range_map             RangeMapFloatFunction (map [min,max] -> target)
  product / sum_        ProductFloatFunction, SumFloatFunction (f32 fold)
  min_ / max_           MinFloatFunction, MaxFloatFunction
  div / pow_            DivFloatFunction, PowFloatFunction
  scale                 ScaleFloatFunction — the TWO-PASS source: corpus
                        min/max first (a driver reduce in the reference's
                        CreateWeight; an aggregate subquery here), then
                        f32((x-min)*(maxT-minT)/(max-min) + minT)
  num_docs / max_doc    NumDocsValueSource, MaxDocValueSource (constants
                        resolved from the searcher)

MultiValueSource boolean/if variants and ord sources are out of scope
(ords are segment-relative internals; the engine's expressions module
covers conditional scoring).
"""
from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class VS:
    spark: str
    duck: str

    def _f32(self, inner_spark: str, inner_duck: str) -> "VS":
        return VS(
            f"CAST({inner_spark} AS FLOAT)", f"CAST({inner_duck} AS REAL)"
        )


def _f32(spark: str, duck: str) -> VS:
    return VS(f"CAST({spark} AS FLOAT)", f"CAST({duck} AS REAL)")


def const(v: float) -> VS:
    # float literal through the double-cast (exact f32 of the double)
    return VS(
        f"CAST(CAST({v!r} AS DOUBLE) AS FLOAT)",
        f"CAST(CAST({v!r} AS DOUBLE) AS REAL)",
    )


def field(name: str, duck_name: str | None = None) -> VS:
    return _f32(name, duck_name or name)


def _bin(a: VS, op: str, b: VS) -> VS:
    return _f32(f"({a.spark} {op} {b.spark})", f"({a.duck} {op} {b.duck})")


def linear(x: VS, slope: float, intercept: float) -> VS:
    return _bin(_bin(const(slope), "*", x), "+", const(intercept))


def reciprocal(x: VS, m: float, a: float, b: float) -> VS:
    """f32(a / (m*x + b)) — ReciprocalFloatFunction.cs."""
    return _bin(const(a), "/", _bin(_bin(const(m), "*", x), "+", const(b)))


def product(*xs: VS) -> VS:
    acc = xs[0]
    for x in xs[1:]:
        acc = _bin(acc, "*", x)
    return acc


def sum_(*xs: VS) -> VS:
    acc = xs[0]
    for x in xs[1:]:
        acc = _bin(acc, "+", x)
    return acc


def div(a: VS, b: VS) -> VS:
    return _bin(a, "/", b)


def pow_(a: VS, b: VS) -> VS:
    return _f32(
        f"POWER({a.spark}, {b.spark})", f"POWER({a.duck}, {b.duck})"
    )


def min_(*xs: VS) -> VS:
    sp = ", ".join(x.spark for x in xs)
    du = ", ".join(x.duck for x in xs)
    return _f32(f"LEAST({sp})", f"LEAST({du})")


def max_(*xs: VS) -> VS:
    sp = ", ".join(x.spark for x in xs)
    du = ", ".join(x.duck for x in xs)
    return _f32(f"GREATEST({sp})", f"GREATEST({du})")


def range_map(
    x: VS, lo: float, hi: float, target: float, default: float | None = None
) -> VS:
    """RangeMapFloatFunction.cs: x in [lo, hi] -> target, else x (or the
    explicit default)."""
    els_sp = x.spark if default is None else const(default).spark
    els_du = x.duck if default is None else const(default).duck
    cond_sp = (
        f"CASE WHEN {x.spark} >= {const(lo).spark} AND {x.spark} <= "
        f"{const(hi).spark} THEN {const(target).spark} ELSE {els_sp} END"
    )
    cond_du = (
        f"CASE WHEN {x.duck} >= {const(lo).duck} AND {x.duck} <= "
        f"{const(hi).duck} THEN {const(target).duck} ELSE {els_du} END"
    )
    return _f32(cond_sp, cond_du)


def scale(x: VS, min_target: float, max_target: float, searcher) -> VS:
    """ScaleFloatFunction.cs: the TWO-PASS source — the corpus min/max
    sweep (CreateScaleInfo; a searcher aggregate job here), then the
    per-doc f32 chain f32(f32(x - minSource) * scale) + minTarget with
    scale = f32((maxT - minT) / (maxVal - minVal)) resolved once (0 when
    the corpus range is empty). Both dialects embed the SAME resolved
    f32 constants, like the reference's weight does."""
    import numpy as np
    from pyspark.sql import functions as F

    row = (
        searcher.docs()
        .agg(
            F.min(F.expr(x.spark).cast("float")).alias("mn"),
            F.max(F.expr(x.spark).cast("float")).alias("mx"),
        )
        .first()
    )
    mn, mx = np.float32(row["mn"]), np.float32(row["mx"])
    if mx - mn == 0:
        sc = np.float32(0.0)
    else:
        sc = np.float32(
            np.float32(np.float32(max_target) - np.float32(min_target))
            / np.float32(mx - mn)
        )
    return _bin(
        _bin(_bin(x, "-", const(float(mn))), "*", const(float(sc))),
        "+",
        const(float(np.float32(min_target))),
    )


def _sorted_field_terms(field_name: str, searcher) -> list[str]:
    """The field's terms-index value list (FieldCache.GetTermsIndex over
    the top-level reader — our index IS one logical top-level segment):
    the searcher's sorted terms dictionary, read on the driver — the same
    memory shape as FieldCache building the terms index in RAM."""
    return [t for t, _df in searcher.terms(field_name)]


def _ord_case(field_name: str, terms: list[str]) -> str:
    whens = " ".join(f"WHEN '{t}' THEN {i}" for i, t in enumerate(terms))
    return f"(CASE {field_name} {whens} ELSE -1 END)"


def ord_source(field_name: str, searcher) -> VS:
    """OrdFieldSource.cs (round 5z): the doc value's ordinal in the sorted
    terms index; missing value -> -1 (SortedDocValues.GetOrd). The per-doc
    value resolves through a CASE over the resolved term list — constants
    embedded in both dialects like ScaleFloatFunction's weight."""
    case = _ord_case(field_name, _sorted_field_terms(field_name, searcher))
    return VS(case, case)


def reverse_ord(field_name: str, searcher) -> VS:
    """ReverseOrdFieldSource.cs: end - ord - 1 over the same terms index
    (a missing value's -1 ord maps to end, the reference's arithmetic)."""
    terms = _sorted_field_terms(field_name, searcher)
    case = _ord_case(field_name, terms)
    expr = f"({len(terms)} - {case} - 1)"
    return VS(expr, expr)


def num_docs(searcher) -> VS:
    return const(float(searcher.max_doc))


def max_doc(searcher) -> VS:
    return const(float(searcher.max_doc))
