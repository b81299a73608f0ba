"""The fixture-immutability invariant the plan memo relies on
(tsengine/sources/memo.py): the memo freezes each sf_dir's file
listing per session, which is only sound while no registered sink ever
writes under an ``sf_dir`` — every output goes through
``sf_scoped_dir`` into a scratch root outside the fixture tree.  The
eviction side of the contract is pinned in tests/test_memo.py.
"""

from __future__ import annotations

import os
import re

SF_A = "/root/testdata/sf0.001"

_TSENGINE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tsengine")


def _snapshot(root: str) -> dict[str, tuple[int, float]]:
    out: dict[str, tuple[int, float]] = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        for f in filenames:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime)
    return out


def test_no_registered_sink_writes_under_sf_dir(spark):
    """Runs the write-path queries end-to-end and asserts the fixture
    tree is byte-untouched (sizes AND mtimes).  These queries cover
    every scratch root family: csv/json/xml/orc round trips
    (relational), merge/compaction (merging), artifact publish
    (similarity's knn graph uses the same sf_scoped_dir discipline but
    is exercised in its own suite — its root is checked statically
    below)."""
    from tsengine.registry import all_queries

    qs = all_queries()
    before = _snapshot(SF_A)
    for name in ("results_append", "sink_metrics_log", "idempotent_write_merge"):
        qs[name].fn(spark, SF_A).count()
    assert _snapshot(SF_A) == before, "a registered sink wrote under the sf_dir"


def test_scratch_roots_outside_fixture_tree():
    """Static half of the invariant: every scratch-root default in the
    engine lives outside /root/testdata, and sf_scoped_dir can never
    relocate an output INTO the sf_dir it tags."""
    from tsengine.sources.scratch import sf_scoped_dir

    roots = []
    for dirpath, _d, files in os.walk(_TSENGINE_ROOT):
        for f in files:
            if not f.endswith(".py"):
                continue
            src = open(os.path.join(dirpath, f)).read()
            roots += re.findall(
                r'os\.environ\.get\(\s*"TSENGINE_\w*DIR"\s*,\s*"([^"]+)"\)', src
            )
    assert roots, "expected at least one scratch-root default"
    fixture = os.path.realpath("/root/testdata")
    for r in roots:
        assert not os.path.realpath(r).startswith(fixture), r
    out = sf_scoped_dir("/tmp/tsengine_pin", SF_A, "leaf")
    assert not os.path.realpath(out).startswith(os.path.realpath(SF_A))
