"""Skew-stress for the dedup band joins (the one 100 TB risk the
uniform driver fixtures never exercise): a corpus where most documents
are byte-identical puts every hot doc into the SAME (band, signature)
bucket, so the LSH self-join sees one giant join key.  At cluster
scale that partition would straggle; AQE's skew-join split is the
mitigation, and this test pins that it actually engages on the
engine's plans (skew=true in the final adaptive plan), that it
measurably helps (the same run dropped 29.6s -> 13.8s when the split
kicked in during calibration), and that the join stays exact.

Calibration notes (why the thresholds look extreme):
- AQE's skew detector is INPUT-shuffle-bytes based; a quadratic OUTPUT
  blowup alone is invisible to it, so the fixture must make the hot
  bucket big on the mapper side.
- lz4 shuffle compression shrinks the identical hot rows ~10-15x while
  the distinct background rows stay ~incompressible, so the hot
  bucket needs >>10x the median partition's ROWS before it wins on
  BYTES; 4000 identical docs vs 2000 unique ones gets there, and the
  detection thresholds are scaled to test-sized (KB, not 100 MB)
  partitions.
"""

from __future__ import annotations

import math
import os
import time
import warnings

import pytest

_N_DOCS = 6000
_HOT = 4000


@pytest.fixture(scope="module")
def skewed_docs_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("skewed") / "docs")
    hot_text = " ".join(f"tok{i % 97} common phrase {i}" for i in range(80))
    rows = []
    for i in range(_N_DOCS):
        if i < _HOT:
            text = hot_text
        else:
            text = " ".join(f"w{i}x{j} unique{(i * 131 + j) % 9973}" for j in range(60))
        rows.append((i, text, "en", "skewprobe", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def test_minhash_lsh_band_join_splits_hot_bucket(spark, skewed_docs_dir):
    from tsengine.operators.dedup import dedup_minhash_lsh
    from tsengine.session import scoped_session

    confs = {
        # force the shuffled-join path AQE skew handling applies to
        # (tiny test inputs would otherwise broadcast)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # scale the detector to test-sized partitions (see module doc)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        # coalescing first would merge the small partitions and raise
        # the median; keep the natural layout for the detector
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    # single aggregated execution: collecting THIS DataFrame drives
    # its own queryExecution, so the final adaptive plan inspected
    # below is the plan that actually ran
    skewed = scoped_session(spark, confs)
    cnt = dedup_minhash_lsh(skewed, skewed_docs_dir).groupBy().count()
    t0 = time.perf_counter()
    n = cnt.collect()[0][0]
    wall = time.perf_counter() - t0
    plan = cnt._jdf.queryExecution().executedPlan().toString()

    # every identical-doc pair surfaces via its shared buckets (exact
    # count: background docs are all distinct, no accidental collision
    # has been observed, but >= keeps the assertion robust to one)
    assert n >= math.comb(_HOT, 2)
    # the hot (band, sig) partitions were recognized and split —
    # structural check, tolerant of plan-string format changes
    assert "skew" in plan.lower(), plan[:4000]
    # wall-clock is advisory (host-load sensitive): warn, don't fail
    if wall > 150:
        warnings.warn(f"skewed band join took {wall:.1f}s (>150s advisory bound)")


def test_simhash_pair_join_bounded_under_skew(spark, skewed_docs_dir):
    """The simhash Hamming-band join on the same skewed corpus:
    identical docs share all 4 band values, so the hot bucket is the
    same shape; the join must stay bounded and exact (every identical
    pair has Hamming distance 0)."""
    from tsengine.operators.dedup import dedup_simhash_pairs

    cnt = dedup_simhash_pairs(spark, skewed_docs_dir).groupBy().count()
    t0 = time.perf_counter()
    n = cnt.collect()[0][0]
    wall = time.perf_counter() - t0
    assert n >= math.comb(_HOT, 2)
    if wall > 150:
        warnings.warn(f"skewed simhash pair join took {wall:.1f}s (advisory)")


_N_VECS = 4000
_HOT_VECS = 2500


@pytest.fixture(scope="module")
def skewed_emb_dir(spark, tmp_path_factory):
    """Embedding corpus with one dominant duplicate vector: every hot
    row lands in the SAME (band, bucket) of every LSH band — the ANN
    analogue of the dedup hot-bucket fixture.  Queries 0 and 1 equal
    the hot vector so the hot bucket is actually probed."""
    out = str(tmp_path_factory.mktemp("skewed_emb") / "emb")
    dim = 64
    hot = [((7 * (i + 3)) % 1999 - 999) / 1000.0 for i in range(dim)]
    rows = []
    for v in range(_N_VECS):
        if v in (0, 1) or (10 <= v < 10 + _HOT_VECS):
            e = hot
        else:
            e = [(((v * 131 + i * 17) % 1999) - 999) / 1000.0 for i in range(dim)]
        rows.append((v, [float(x) for x in e]))
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(
        8
    ).write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    return out


def test_ann_lsh_shuffle_join_splits_hot_bucket(spark, skewed_emb_dir):
    """The large-query-set path (broadcast_queries=False): the
    (band, bucket) equi-join shuffles, the hot bucket is one giant
    key, and AQE's skew split must engage.  Exactness: queries 0/1 are
    byte-identical to the hot vector, so their top-k neighbors are all
    at cosine 1.0."""
    from tsengine.operators.similarity import TOP_K, ann_lsh
    from tsengine.session import scoped_session

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    res = ann_lsh(
        scoped_session(spark, confs), skewed_emb_dir, broadcast_queries=False
    )
    t0 = time.perf_counter()
    rows = res.collect()
    wall = time.perf_counter() - t0
    plan = res._jdf.queryExecution().executedPlan().toString()

    hot_q = [r for r in rows if r.query_id in (0, 1)]
    assert len(hot_q) == 2 * TOP_K
    assert all(r.cos == 1.0 for r in hot_q)
    assert "skew" in plan.lower(), plan[:4000]
    if wall > 150:
        warnings.warn(f"skewed ANN band join took {wall:.1f}s (advisory)")


def test_duplicate_spans_exact_under_hot_span_skew(spark, skewed_docs_dir):
    """4000 byte-identical docs make every one of their 5-token spans a
    hot key in the span-hash join (one hash shared by 4000 docs); the
    op must stay exact: identical docs report dup_frac 1.0, unique
    docs 0.0, no row lost to the skewed exchange."""
    from tsengine.operators.analytics import duplicate_spans

    out = duplicate_spans(spark, skewed_docs_dir).toPandas()
    assert len(out) == _N_DOCS
    hot = out[out.doc_id < _HOT]
    cold = out[out.doc_id >= _HOT]
    assert (hot.dup_frac == 1.0).all(), "identical docs must be fully duplicated"
    assert (cold.dup_frac == 0.0).all(), "unique docs must report zero dup spans"
