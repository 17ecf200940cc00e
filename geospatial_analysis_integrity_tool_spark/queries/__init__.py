"""Query registry: each submodule exports QUERIES (name -> callable(spark, sf_dir)
-> DataFrame) and ORACLES (name -> DuckDB SQL text).  The submodules are
discovered, not listed (``pkgutil`` also walks a ``--py-files`` zip), and a
query name registered twice is an error rather than a silent override.
__spark_entry__.py at the repo root aggregates them for the driver's
correctness gate.

Query bodies only read views.  The registry registers them: every callable
``all_queries()`` returns first calls ``register_geo_views(spark, sf_dir)``,
which puts the 10 source tables and the 9 geometry views of ``sf_dir`` in
place (built once per session and ``sf_dir``; see sources/synthetic.py).
A test that calls a module function directly registers its ``sf_dir`` itself.
"""

from __future__ import annotations

import functools
import importlib
import pkgutil

from ..sources.synthetic import register_geo_views


def _with_views(fn):
    @functools.wraps(fn)
    def run(spark, sf_dir):
        register_geo_views(spark, sf_dir)
        return fn(spark, sf_dir)

    return run


def all_queries():
    q: dict = {}
    o: dict = {}
    for info in pkgutil.iter_modules(__path__):
        if info.name == "suiteq":
            continue
        mod = importlib.import_module(f"{__name__}.{info.name}")
        dup = (q.keys() & mod.QUERIES.keys()) | (o.keys() & mod.ORACLES.keys())
        if dup:
            raise ValueError(f"{info.name} re-registers query names {sorted(dup)}")
        q.update(mod.QUERIES)
        o.update(mod.ORACLES)
    # composition gate: built FROM the registered per-family entries so the
    # oracle text is exactly the gated SQL (see suiteq.py docstring)
    from . import suiteq

    sq, so = suiteq.build(q, o)
    q.update(sq)
    o.update(so)
    return {name: _with_views(fn) for name, fn in q.items()}, o
