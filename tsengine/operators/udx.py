"""User-defined execution surface (SURVEY.md §2 A.9) — the mechanisms
the reference's torch/numpy kernels map onto, each registered as a
driver-checkable query:

* scalar vectorized pandas_udf  -> spectral.fft_mag, ml kernels
* grouped-map applyInPandas     -> similarity.knn_graph_update
* SQL-aggregate UDAF            -> timeseries.ema_smooth (higher-order
  ``aggregate``)
* pandas GROUPED_AGG UDAF       -> ``grouped_geomean_udaf`` (here)
* Python UDTF (Spark 4 API)     -> ``tokenize_udtf`` (here)

The two operators here complete the matrix with the mechanisms the
engine's kernels don't otherwise exercise.  Both are deliberately
simple functions whose semantics a SQL oracle can replicate exactly —
the check is about the execution path (Arrow UDTF emission, grouped-agg
partial application), not about novel math.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsengine.registry import register
from tsengine.sources.tables import load_table


@register(
    "tokenize_udtf",
    """
WITH l AS (SELECT doc_id, string_split(text, ' ') AS ss FROM documents)
SELECT doc_id, CAST(i - 1 AS INT) AS pos, ss[i] AS token
FROM l, UNNEST(range(1, len(ss) + 1)) AS r(i)
WHERE ss[i] <> ''
""",
)
def tokenize_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenizer as a PYTHON UDTF (Spark 4 ``udtf`` API,
    Arrow-optimized): one input row fans out to one row per token via
    a lateral join — the table-function execution path, distinct from
    the built-in ``posexplode`` used elsewhere (dedup.tokens_df).

    The UDTF runs per-partition in the Python worker (no shuffle — the
    lateral join is map-side); the oracle replicates the exact
    split-and-enumerate semantics relationally.  At 100 TB this is the
    escape hatch for tokenizers that are NOT expressible as SQL (BPE,
    sentencepiece): same plumbing, heavier eval().
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, token string", useArrow=True)
    class Tokenize:
        def eval(self, doc_id, text):
            pos = 0
            for tok in (text or "").split(" "):
                if tok != "":
                    yield doc_id, pos, tok
                pos += 1

    # register for the SQL lateral-join syntax (the natural UDTF call
    # site); the documents frame is bound as a parameter, whose temp view
    # PySpark drops once the query is analyzed
    spark.udtf.register("tsengine_tokenize", Tokenize)
    return spark.sql(
        "SELECT t.doc_id, t.pos, t.token "
        "FROM {docs}, LATERAL tsengine_tokenize(doc_id, text) t",
        docs=load_table(spark, sf_dir, "documents"),
    )


@register(
    "grouped_geomean_udaf",
    """
SELECT event_type,
       ROUND(EXP(AVG(LN(value))), 6) AS geomean,
       COUNT(*) AS n
FROM events
WHERE value > 0
GROUP BY 1
""",
)
def grouped_geomean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean per event type as a pandas GROUPED_AGG UDAF —
    the Arrow-vectorized aggregate path (SeriesToScalar), completing
    the A.9 matrix next to the higher-order-function UDAF
    (ema_smooth's ``aggregate``).

    Note the scale contract difference vs built-in aggs: a grouped-agg
    pandas UDF has no partial-aggregation (map-side combine) — every
    group's values ship to one reducer.  Fine for |event_type| groups
    of bounded size; for high-cardinality aggregation the built-in
    log-sum decomposition (exp(avg(ln))) below is the production
    rewrite, which is exactly what the oracle states.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy()).mean()))

    # Spark forbids mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg(), so the count is a pandas UDAF too
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    return ev.groupBy("event_type").agg(
        F.round(geomean("value"), 6).alias("geomean"),
        n_rows("value").alias("n"),
    )


@register(
    "grouped_geomean_sql",
    """
SELECT event_type,
       ROUND(EXP(AVG(LN(value))), 6) AS geomean,
       COUNT(*) AS n
FROM events
WHERE value > 0
GROUP BY 1
""",
)
def grouped_geomean_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of `grouped_geomean_udaf`: the log-sum
    decomposition exp(avg(ln(x))) as built-in aggregates — whole-stage
    codegen with map-side partial aggregation, so per-group values
    never ship to a single reducer.  This is the plan a 100 TB
    geometric mean should run (the UDAF sibling exists to exercise the
    SeriesToScalar Arrow path; its 100x-tier probe rows wander with
    host state — 9.4x r7, 5.5x r8 — because the Arrow serialization
    floor, not data-proportional work, dominates its missing-partial-
    agg plan)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    return ev.groupBy("event_type").agg(
        F.round(F.exp(F.avg(F.log("value"))), 6).alias("geomean"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# custom Python data source (Spark 4 DataSource API)
# ---------------------------------------------------------------------------

try:  # Spark >= 4 only; the registry entry guards on availability
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _RowGroupPartition(InputPartition):
        def __init__(self, path: str, rg: int):
            self.path = path
            self.rg = rg

    class _PqMetaReader(DataSourceReader):
        """Row-group-partitioned reader over a parquet file using
        pyarrow directly — stands in for any proprietary format with
        an indexable container layout."""

        def __init__(self, options):
            self.path = options["path"]

        def partitions(self):
            import glob
            import os

            import pyarrow.parquet as pq

            # single-file layout (driver testdata) or a Spark-written
            # directory of part files: one partition per row group of
            # every member file, so the scan parallelizes either way
            if os.path.isdir(self.path):
                files = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
            else:
                files = [self.path]
            return [
                _RowGroupPartition(f, i)
                for f in files
                for i in range(pq.ParquetFile(f).num_row_groups)
            ]

        def read(self, part):
            import pyarrow.parquet as pq

            t = pq.ParquetFile(part.path).read_row_group(
                part.rg, columns=["doc_id", "source", "n_chars"]
            )
            # select by NAME, not position: the yield order must not
            # depend on whether pyarrow returns requested-column order
            # or file-schema order for read_row_group(columns=...)
            yield from zip(
                t.column("doc_id").to_pylist(),
                t.column("source").to_pylist(),
                t.column("n_chars").to_pylist(),
            )

    class PqMetaSource(DataSource):
        """`tsengine_pqmeta` — a custom Python DataSource (Spark 4 API)."""

        @classmethod
        def name(cls):
            return "tsengine_pqmeta"

        def schema(self):
            return "doc_id bigint, source string, n_chars bigint"

        def reader(self, schema):
            return _PqMetaReader(self.options)

    _HAS_PYDS = True
except ImportError:  # pragma: no cover - Spark < 4
    _HAS_PYDS = False


@register(
    "scan_python_datasource",
    """
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
""",
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through a CUSTOM PYTHON DATA SOURCE (Spark 4
    ``spark.dataSource.register`` API): a row-group-partitioned pyarrow
    reader registered as format ``tsengine_pqmeta`` — the integration
    path for proprietary/columnar formats Spark has no built-in for
    (the reference's pickle containers, `unsupervised.py:379`, are this
    shape).  Partition boundaries come from the container's own row
    groups, so the scan parallelizes without Spark knowing the format;
    the aggregation downstream hash-checks that the custom source
    delivered exactly the rows the built-in parquet reader sees."""
    import os

    if not _HAS_PYDS:
        raise NotImplementedError("Python DataSource API requires Spark 4")
    from tsengine.session import ensure_runtime_env

    ensure_runtime_env(spark)
    try:
        spark.dataSource.register(PqMetaSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("tsengine_pqmeta")
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .load()
    )
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "embedding_normalize_arrow",
    """
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
       ROUND(CAST(embedding[1] AS DOUBLE)
             / sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS u0,
       ROUND(CAST(embedding[2] AS DOUBLE)
             / sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS u1
FROM embeddings
""",
)
def embedding_normalize_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column via ``mapInArrow`` —
    the zero-copy Arrow-native kernel path (no pandas materialization:
    the list column's values buffer is reshaped in place and reduced
    with numpy), completing the UDF-surface matrix next to the pandas
    and UDTF mechanisms.  This is the batch shape every
    embedding-normalize / quantize / distance kernel at 100 TB wants:
    columnar in, columnar out, one C-contiguous pass per Arrow batch.

    Determinism: squares are accumulated dimension-sequentially in
    float64 (``for d: acc += x[:, d]^2`` — vectorized over rows,
    ordered over dims), the exact association of the oracle's
    ``list_sum`` fold, so norms agree to the last ulp rather than
    within pairwise-summation drift."""
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings")

    def normalize(batches):
        for batch in batches:
            ids = batch.column("vec_id")
            arr = batch.column("embedding")
            flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            n = len(arr)
            if n == 0:
                continue
            dim = len(flat) // n
            x = flat.reshape(n, dim)
            acc = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                acc += x[:, d] * x[:, d]
            norm = np.sqrt(acc)
            yield pa.record_batch(
                {
                    "vec_id": ids,
                    "l2_norm": pa.array(np.round(norm, 6)),
                    "u0": pa.array(np.round(x[:, 0] / norm, 6)),
                    "u1": pa.array(np.round(x[:, 1] / norm, 6)),
                }
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        normalize, "vec_id long, l2_norm double, u0 double, u1 double"
    )
