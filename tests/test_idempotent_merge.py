"""Pins for the idempotent MERGE sink (tsengine/operators/merging.py):

* re-running the same merge changes nothing (collect equality);
* merge semantics: matched keys replaced, new keys inserted, other
  keys untouched;
* partition scoping: a merge touching one key-bucket never rewrites
  the data files of other buckets (mtime pin) — the property that
  makes MERGE O(touched partitions), not O(table).
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from tsengine.operators.merging import (
    _N_PARTS,
    idempotent_write_merge,
    merge_upsert,
)

_DIR = "/tmp/tsengine_merge_test"


def _mk_target(spark, rows):
    shutil.rmtree(_DIR, ignore_errors=True)
    df = spark.createDataFrame(rows, "o_custkey bigint, v double").withColumn(
        "p", (F.col("o_custkey") % _N_PARTS).cast("int")
    )
    df.write.mode("overwrite").partitionBy("p").parquet(_DIR)


def _snapshot(spark):
    return {
        (r.o_custkey, round(r.v, 9))
        for r in spark.read.parquet(_DIR).collect()
    }


def _part_files():
    out = {}
    for f in glob.glob(os.path.join(_DIR, "p=*", "*.parquet")):
        bucket = int(f.split("p=")[1].split(os.sep)[0])
        out.setdefault(bucket, {})[f] = os.path.getmtime(f)
    return out


@pytest.fixture()
def base_target(spark):
    # keys 0..15 cover every bucket twice; values are key*1.0
    _mk_target(spark, [(k, float(k)) for k in range(16)])
    yield
    shutil.rmtree(_DIR, ignore_errors=True)


def _upd(spark, rows):
    return spark.createDataFrame(rows, "o_custkey bigint, v double").withColumn(
        "p", (F.col("o_custkey") % _N_PARTS).cast("int")
    )


def test_merge_upsert_semantics(spark, base_target):
    # key 0 updated, key 100 (bucket 4) inserted, all others untouched
    merge_upsert(spark, _DIR, _upd(spark, [(0, -1.0), (100, 5.0)]), "o_custkey")
    got = _snapshot(spark)
    expect = {(k, float(k)) for k in range(1, 16)} | {(0, -1.0), (100, 5.0)}
    assert got == expect


def test_merge_is_idempotent(spark, base_target):
    upd = _upd(spark, [(3, 9.0), (200, 1.5)])
    merge_upsert(spark, _DIR, upd, "o_custkey")
    first = _snapshot(spark)
    merge_upsert(spark, _DIR, upd, "o_custkey")
    merge_upsert(spark, _DIR, upd, "o_custkey")
    assert _snapshot(spark) == first


def test_untouched_partitions_not_rewritten(spark, base_target):
    before = _part_files()
    time.sleep(1.1)  # mtime resolution guard
    # touches ONLY bucket 2 (keys 2 and 10 both live there already)
    merge_upsert(spark, _DIR, _upd(spark, [(2, 7.0)]), "o_custkey")
    after = _part_files()
    assert before[2] != after[2]  # touched bucket rewritten
    for b in set(before) - {2}:
        assert before[b] == after[b], f"bucket {b} was rewritten"


def test_registered_query_matches_full_rollup(spark, sf_dir):
    got = idempotent_write_merge(spark, sf_dir)
    from tsengine.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    expect = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 6).alias("sum_price"),
        F.max(F.to_date("o_orderdate")).alias("last_orderdate"),
    )
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expect.collect()}
    assert g == e


def test_registered_query_is_scoped_to_its_process(spark, sf_dir, monkeypatch):
    """A second process running the query on the same sf_dir rewrites
    its own table, so this process's read-back keeps its files (one
    shared table failed with FAILED_READ_FILE.FILE_NOT_EXIST)."""
    from tsengine.operators.merging import _MERGE_DIR
    from tsengine.sources.scratch import sf_scoped_dir

    mine = idempotent_write_merge(spark, sf_dir)
    expect = {tuple(r) for r in mine.collect()}
    other = os.getpid() + 1
    try:
        with monkeypatch.context() as m:
            m.setattr(os, "getpid", lambda: other)
            assert idempotent_write_merge(spark, sf_dir).count() == len(expect)
        assert {tuple(r) for r in mine.collect()} == expect
    finally:
        shutil.rmtree(
            sf_scoped_dir(_MERGE_DIR, sf_dir, f"cust_rollup_{other}"), ignore_errors=True
        )


_EXIT_SCRIPT = """
import os, sys
from tsengine.operators.merging import compact_small_files, idempotent_write_merge
from tsengine.operators.relational import scan_orc, sink_partitioned
from tsengine.session import get_spark

spark = get_spark("merge-exit")
sf_dir = sys.argv[1]
assert idempotent_write_merge(spark, sf_dir).count() > 0
assert compact_small_files(spark, sf_dir).count() > 0
assert scan_orc(spark, sf_dir).count() > 0
assert sink_partitioned(spark, sf_dir).count() > 0
print(os.getpid())
for d in ("TSENGINE_MERGE_DIR", "TSENGINE_COMPACT_DIR", "TSENGINE_ORC_DIR",
          "TSENGINE_CSV_DIR"):
    print(" ".join(sorted(os.listdir(os.environ[d]))))
"""


def test_process_scratch_tables_removed_at_exit(sf_dir, tmp_path):
    """A process's merge, compaction and round-trip tables carry its pid
    and go away when it exits, so runs no longer pile up tables in the
    scratch dirs."""
    import subprocess
    import sys

    dirs = ("merge", "compact", "orc", "csv")
    env = dict(
        os.environ,
        TSENGINE_MERGE_DIR=str(tmp_path / "merge"),
        TSENGINE_COMPACT_DIR=str(tmp_path / "compact"),
        TSENGINE_ORC_DIR=str(tmp_path / "orc"),
        TSENGINE_CSV_DIR=str(tmp_path / "csv"),
        TSENGINE_DRIVER_MEM="1g",
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run(
        [sys.executable, "-c", _EXIT_SCRIPT, sf_dir],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    pid, merge_seen, compact_seen, orc_seen, csv_seen = (
        run.stdout.strip().splitlines()[-5:]
    )
    assert merge_seen.startswith(f"cust_rollup_{pid}_"), merge_seen
    assert {n.rsplit("_", 1)[0] for n in compact_seen.split()} == {
        f"fragments_{pid}", f"compacted_{pid}"
    }, compact_seen
    assert orc_seen.rsplit("_", 1)[0] == f"orders_{pid}", orc_seen
    assert csv_seen.rsplit("_", 1)[0] == f"events_by_type_{pid}", csv_seen
    for d in dirs:
        assert not os.listdir(tmp_path / d), d


def test_compact_small_files_contract(spark, oracle_sf_dir):
    """The compaction's operational contract (the oracle hash proves
    losslessness; this pins the part the oracle can't see): 64
    fragments collapse to <= target files, sizes balance within a
    band, and range partitioning leaves the files time-disjoint so
    parquet footer min/max stats stay selective."""
    import glob
    import os

    from tsengine.operators.merging import (
        _COMPACT_DIR,
        _COMPACT_FRAGMENTS,
        _COMPACT_TARGET_FILES,
        compact_small_files,
        process_dir,
    )

    compact_small_files(spark, oracle_sf_dir).count()
    frag = glob.glob(
        os.path.join(process_dir(_COMPACT_DIR, oracle_sf_dir, "fragments"), "*.parquet")
    )
    comp = glob.glob(
        os.path.join(process_dir(_COMPACT_DIR, oracle_sf_dir, "compacted"), "*.parquet")
    )
    assert len(frag) == _COMPACT_FRAGMENTS
    assert 1 <= len(comp) <= _COMPACT_TARGET_FILES
    sizes = sorted(os.path.getsize(p) for p in comp)
    assert sizes[0] > 0.3 * sizes[-1]  # balanced, not one giant + crumbs
    # time-disjoint files: per-file [min(ts), max(ts)] ranges don't
    # overlap (the property that keeps footer-stat data skipping alive)
    spans = []
    for p in sorted(comp):
        df = spark.read.parquet(p)
        row = df.selectExpr("min(ts) AS lo", "max(ts) AS hi").first()
        spans.append((row["lo"], row["hi"]))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2


def test_compact_partitioned_contract(spark, oracle_sf_dir):
    """The hive-composed compaction's operational contract (the oracle
    hash proves losslessness; this pins what the oracle can't see):

    * the criterion selects exactly the fragmented partitions;
    * hot partitions collapse 16 -> <= target files, time-disjoint
      within each partition (footer-stat skipping survives);
    * untouched partitions' data files are never rewritten (mtime pin)
      — the property that makes maintenance O(fragmented partitions),
      not O(table).
    """
    from tsengine.operators.merging import (
        _HIVE_FRAGMENTS,
        _HIVE_HOT,
        _HIVE_TARGET_FILES,
        build_mixed_layout,
        compact_partitions,
        list_partition_files,
    )

    target = build_mixed_layout(spark, oracle_sf_dir)
    files = list_partition_files(target)
    needs = sorted(
        p for p, fl in files.items() if len(fl) > _HIVE_TARGET_FILES
    )
    assert needs == sorted(_HIVE_HOT)
    for p in needs:
        assert len(files[p]) == _HIVE_FRAGMENTS
    before = {
        p: {f: os.path.getmtime(f) for f in fl} for p, fl in files.items()
    }
    time.sleep(1.1)  # mtime resolution guard
    compact_partitions(spark, target, needs)
    after = list_partition_files(target)
    for p in needs:
        assert 1 <= len(after[p]) <= _HIVE_TARGET_FILES
        # time-disjoint files within the partition
        spans = []
        for f in after[p]:
            row = (
                spark.read.parquet(f)
                .selectExpr("min(ts) AS lo", "max(ts) AS hi")
                .first()
            )
            spans.append((row["lo"], row["hi"]))
        spans.sort()
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2
    for p in set(files) - set(needs):
        got = {f: os.path.getmtime(f) for f in after[p]}
        assert got == before[p], f"untouched partition {p} was rewritten"
