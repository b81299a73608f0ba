"""Session-scoped plan memo: one store for every lazy plan the engine
rebuilds per query — fixture table scans, the ``wearable_long`` /
``wearable_wide`` derivations and the registry's plan-pure queries.

Why: building these plans costs driver time only — file listing and
footer schema reads for a scan (~80-120 ms per ``spark.read.parquet``),
py4j expression building and Catalyst analysis for a derivation
(~300 ms) — and every bench pass, sweep and oracle check re-invokes the
same query fns over the same fixtures.  The memo keeps the analyzed
plan.  It is NOT result caching: an entry is a DataFrame, nothing is
materialized, and every action still scans the parquet files.

Key: ``(session, realpath(sf_dir), key)`` where ``key`` names what is
cached — ``("table", name)``, ``("long", seq_len)``, ``("wide",
seq_len)`` or ``("plan", name)``.  The session object keeps a stopped
and rebuilt session from being served stale JVM references, and keeps a
child session (``session.scoped_session``) from being served frames
bound to its parent, which Spark would plan under the parent's SQL conf.
The realpath keeps two sf dirs from aliasing and two
spellings of one dir (trailing slash, symlink) from splitting.

Fresh QueryExecution: a hit is served as ``hit.select("*")``, a cheap
clone over the same analyzed relation (no listing, no re-analysis).
Executing the shared object in place would finalize its AQE plan, and
every later ``explain()`` would render the Final+Initial double tree.
The extra Project collapses in the optimizer, so physical plans are
identical.

Invariant: fixture dirs are IMMUTABLE within a session.  The memo
freezes each dir's file listing and schema, so a read after an
in-session rewrite of ``sf_dir`` would be served the old listing.  No
registered query writes under an sf_dir: every sink is placed by
``sources/scratch.py`` (a per-process table or a shared keyed artifact)
in a scratch root outside the fixture tree (pinned by
tests/test_round14_opt.py).  Code
that regenerates a source dir calls :func:`invalidate` first — the
path-table equivalent of ``REFRESH TABLE``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_STORE: dict[tuple[SparkSession, str, tuple], DataFrame] = {}


def memoized(
    spark: SparkSession, sf_dir: str, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the plan memoized for ``(spark, sf_dir, key)`` as a fresh
    clone, or store and return ``build()`` on a miss."""
    k = (spark, os.path.realpath(sf_dir), key)
    hit = _STORE.get(k)
    if hit is not None:
        return hit.select("*")
    _STORE[k] = out = build()
    return out


def invalidate(sf_dir: str) -> None:
    """Evict every memoized plan for ``sf_dir`` (all sessions, all keys)."""
    rp = os.path.realpath(sf_dir)
    for k in [k for k in list(_STORE) if k[1] == rp]:
        del _STORE[k]
