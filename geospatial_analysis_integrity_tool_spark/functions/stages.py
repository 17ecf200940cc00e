"""Stage chains and Horner series shared by the coordinate-system transforms.

Every projected-input transform (functions/utm.py, mercator.py,
polar_stereo.py, lcc.py, ltp.py, om.py, spaceframes.py) is a list of
``(name, sql_expr)`` stages: each expr references only input columns and
earlier stage names.  Scratch stages are named ``_<x>_*``; every other stage
is an output.  The Spark plan (``with_stages``) and the DuckDB oracle
(``oracle_stages``) render the SAME list, so both engines evaluate the same
IEEE-754 expression tree and their doubles agree bit-for-bit.

The transcendentals inside the chains are Taylor polynomials in Horner form
(``sql_horner``); ``horner_np`` performs the same operations in the same
order for the numpy twins that run in Arrow workers, so a twin equals its
SQL chain exactly.  pyspark is imported lazily: the numpy twins must import
without it.
"""

from __future__ import annotations

import numpy as np

#: sin(x) = x * (1 + x^2 * (SIN_COEF[0] + x^2 * (...))), degree 15
SIN_COEF = [
    -1.0 / 6.0, 1.0 / 120.0, -1.0 / 5040.0, 1.0 / 362880.0,
    -1.0 / 39916800.0, 1.0 / 6227020800.0, -1.0 / 1307674368000.0,
]
#: cos(x) = 1 + x^2 * (COS_COEF[0] + x^2 * (...)), degree 14
COS_COEF = [
    -0.5, 1.0 / 24.0, -1.0 / 720.0, 1.0 / 40320.0,
    -1.0 / 3628800.0, 1.0 / 479001600.0, -1.0 / 87178291200.0,
]
#: atan(x), odd degree 15
ATAN_COEF = [
    -1.0 / 3.0, 1.0 / 5.0, -1.0 / 7.0, 1.0 / 9.0,
    -1.0 / 11.0, 1.0 / 13.0, -1.0 / 15.0,
]
#: atanh(x), odd degree 15
ATANH_COEF = [
    1.0 / 3.0, 1.0 / 5.0, 1.0 / 7.0, 1.0 / 9.0,
    1.0 / 11.0, 1.0 / 13.0, 1.0 / 15.0,
]
#: exp(q) = 1 + q * (EXP_COEF[0] + q * (...)), degree 13
EXP_COEF = [
    1.0, 1.0 / 2.0, 1.0 / 6.0, 1.0 / 24.0, 1.0 / 120.0, 1.0 / 720.0,
    1.0 / 5040.0, 1.0 / 40320.0, 1.0 / 362880.0, 1.0 / 3628800.0,
    1.0 / 39916800.0, 1.0 / 479001600.0, 1.0 / 6227020800.0,
]


def dlit(x: float) -> str:
    """Float literal that parses as DOUBLE in BOTH engines: DuckDB treats
    plain decimal literals as DECIMAL (constant products overflow), but
    E-notation is DOUBLE everywhere."""
    r = repr(float(x))
    return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) else r + "e0"


# --- stage-chain renderers ------------------------------------------------------


def with_stages(df, stages: list[tuple[str, str]], pin: bool = False):
    """Spark side: one staged column per stage, then the ``_``-named scratch
    columns are dropped.  Each intermediate is its own projection, so every
    codegen method stays under the JVM 64 KB limit.

    pin: when the outputs feed an operator that references them several
    times (e.g. the PIP cell join: cell key + bbox filter + kernel),
    CollapseProject re-inlines the whole chain at EVERY reference — the
    expression tree grows exponentially with stage depth and the optimizer
    never finishes.  ``+ rand(7) * 0.0`` on the output stages is numerically
    the identity (x + 0.0 is bit-identical for every non-negative-zero
    double) but marks the column non-deterministic, so Catalyst materializes
    the chain ONCE and downstream operators reference the attribute."""
    from pyspark.sql import functions as F

    for name, expr in stages:
        if pin and not name.startswith("_"):
            expr += " + rand(7) * 0.0"
        df = df.withColumn(name, F.expr(expr))
    return df.drop(*[n for n, _ in stages if n.startswith("_")])


def oracle_stages(inner_sql: str, stages: list[tuple[str, str]]) -> str:
    """DuckDB side: the SAME stage chain as nested subqueries around
    ``inner_sql`` — identical expression tree, bit-identical doubles."""
    sql = f"({inner_sql})"
    for name, expr in stages:
        sql = f"(SELECT *, {expr} AS {name} FROM {sql} AS _s_{name})"
    return sql


# --- Horner series --------------------------------------------------------------


def sql_horner(v: str, coef: list[float]) -> str:
    """Text of 1 + v * (c0 + v * (c1 + ... + v * cN)).  The innermost
    coefficient renders with ``repr``, the others with ``dlit``."""
    body = repr(coef[-1])
    for c in reversed(coef[:-1]):
        body = f"({dlit(c)} + {v} * {body})"
    return f"(1.0 + {v} * {body})"


def sql_series(x: str, coef: list[float], odd: bool) -> str:
    """Series in x^2: ``x * horner(x^2)`` when odd, ``horner(x^2)`` when even."""
    even = sql_horner(f"({x} * {x})", coef)
    return f"(({x}) * {even})" if odd else even


def horner_np(v, coef: list[float]):
    """numpy twin of :func:`sql_horner` (same operations, same order)."""
    body = np.float64(coef[-1])
    for c in reversed(coef[:-1]):
        body = c + v * body
    return 1.0 + v * body


def series_np(x, coef: list[float], odd: bool):
    """numpy twin of :func:`sql_series`."""
    even = horner_np(x * x, coef)
    return x * even if odd else even


def sql_sin_poly(x: str) -> str:
    """sin(x) by degree-15 Taylor (|x| <= 1.6: err < 3e-12)."""
    return sql_series(x, SIN_COEF, odd=True)


def sql_cos_poly(x: str) -> str:
    """cos(x) by degree-14 Taylor (|x| <= 1.6: err < 3e-11 -> sub-mm)."""
    return sql_series(x, COS_COEF, odd=False)


def sql_atan_poly(x: str) -> str:
    """atan(x) by odd degree-15 Taylor (|x| <= ~0.2: err < 1e-13;
    still < 3e-12 out to |x| ~ 0.18 of the direct colatitude use)."""
    return sql_series(x, ATAN_COEF, odd=True)


def sql_atanh_poly(x: str) -> str:
    """atanh(x) by odd degree-15 Taylor (|x| <= ~0.2: err < 2e-12)."""
    return sql_series(x, ATANH_COEF, odd=True)


def sql_exp_poly_quarter(x: str, prefix: str = "_m") -> list[tuple[str, str]]:
    """Stages computing ``{prefix}_exp`` = exp(x) by quartering + degree-13
    Taylor (|x| <= ~3.3 -> |x/4| <= 0.83, rel err < 1e-12)."""
    p = prefix
    return [
        (f"{p}_q", f"(({x}) / 4.0)"),
        (f"{p}_e1", sql_horner(f"{p}_q", EXP_COEF)),
        (f"{p}_e2", f"({p}_e1 * {p}_e1)"),
        (f"{p}_exp", f"({p}_e2 * {p}_e2)"),
    ]


def sin_np(x):
    return series_np(x, SIN_COEF, odd=True)


def cos_np(x):
    return series_np(x, COS_COEF, odd=False)


def atan_np(x):
    return series_np(x, ATAN_COEF, odd=True)


def atanh_np(x):
    return series_np(x, ATANH_COEF, odd=True)


def exp_quarter_np(x):
    """numpy twin of :func:`sql_exp_poly_quarter`."""
    e1 = horner_np(x / 4.0, EXP_COEF)
    e2 = e1 * e1
    return e2 * e2
