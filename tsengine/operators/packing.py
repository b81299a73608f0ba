"""Chunking / packing / quantization operators for LLM training-data
preparation (project north star; not in the reference — Spark-native
designs extending the corpus/text families, SURVEY.md §7.2 M6).

Three standard stages between a cleaned corpus and a training run:

  * ``doc_chunk``          — overlapping token-window chunking (the RAG /
                             long-context split): windows of ``_CHUNK_W``
                             tokens advancing by ``_CHUNK_S``.  Pure
                             map-side explode — zero shuffles at any
                             scale; output cardinality is a constant
                             factor of the input.
  * ``pack_sequences``     — GPT-style sequence packing: per source
                             shard, documents are concatenated in
                             doc_id order into one token stream and cut
                             into fixed ``_PACK_C``-token blocks; each
                             document reports its stream offset and the
                             block span it lands in.  One shuffle (the
                             per-shard cumulative sum); shards are the
                             parallelism unit, exactly how a 100 TB
                             corpus is packed per input shard.
  * ``embedding_quantize`` — symmetric int8 scalar quantization of the
                             embedding column (the on-disk format for
                             billion-vector ANN): per-vector scale =
                             max|x|/127, codes = floor(x/scale + 0.5).
                             Map-side, no shuffle; emits codes plus the
                             reconstruction MSE (bit-identical fold, so
                             no output rounding is needed).

Portability notes (SURVEY.md §4.4): all packing arithmetic is integer
(exact in both engines); quantization uses ``floor(x + 0.5)`` instead
of ROUND for the codes (floor of identical doubles is identical — no
HALF_UP-vs-double boundary risk) and the same left fold for the MSE
(Spark ``aggregate`` from 0.0 vs DuckDB 2-arg ``list_reduce``; IEEE
``0.0 + x == x`` makes the chains bit-identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tsengine.registry import register
from tsengine.sources.scratch import artifact
from tsengine.sources.tables import load_table

_CHUNK_W = 32  # chunk width, whitespace tokens
_CHUNK_S = 24  # chunk stride (overlap = W - S = 8)
_PACK_C = 128  # packed block capacity, tokens
_QMAX = 127  # int8 symmetric range


@register(
    "doc_chunk",
    f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
)
SELECT doc_id,
       CAST(k AS INT) AS chunk_id,
       CAST(k * {_CHUNK_S} AS BIGINT) AS tok_start,
       CAST(len(toks[k * {_CHUNK_S} + 1 : least(k * {_CHUNK_S} + {_CHUNK_W}, n)])
            AS INT) AS n_tok,
       array_to_string(
         toks[k * {_CHUNK_S} + 1 : least(k * {_CHUNK_S} + {_CHUNK_W}, n)],
         ' ') AS chunk_text
FROM t, unnest(range(0, CAST(FLOOR((n - 1) / {_CHUNK_S}) AS BIGINT) + 1)) AS u(k)
""",
)
def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking: every document becomes
    ceil(n/stride) chunks of up to {W} tokens, each starting {S} tokens
    after the previous (so consecutive chunks share W-S tokens of
    context).  Entirely map-side — `sequence` + `explode` + `slice`
    inside the row, no shuffle, no window function — so it scales as a
    pure narrow transform over the 100 TB corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    k = F.explode(
        F.sequence(F.lit(0), F.floor((n - 1) / _CHUNK_S).cast("int"))
    ).alias("chunk_id")
    chunk = F.slice(F.col("toks"), F.col("chunk_id") * _CHUNK_S + 1, _CHUNK_W)
    return (
        docs.select("doc_id", toks.alias("toks"), k)
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id").cast("long") * _CHUNK_S).alias("tok_start"),
            F.size(chunk).alias("n_tok"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


@register(
    "pack_sequences",
    f"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS tok_offset
  FROM t
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(tok_offset AS BIGINT) AS tok_offset,
       CAST(FLOOR(tok_offset / {_PACK_C}) AS BIGINT) AS first_block,
       CAST(FLOOR((tok_offset + n_tokens - 1) / {_PACK_C}) AS BIGINT) AS last_block
FROM c
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: per source shard the documents form
    one concatenated token stream (doc_id order) cut into fixed
    {C}-token training blocks; each document reports its offset in the
    stream and the [first_block, last_block] span it occupies (a doc
    longer than the capacity straddles blocks — the concat-and-split
    model used by GPT/Llama pretraining, not bin packing).

    Scale shape: ONE shuffle (hash by source shard), then a running sum
    within each shard — shards are the parallelism unit, and a real
    pipeline has thousands of them.  All arithmetic is integer, so the
    oracle matches exactly with no rounding discipline needed."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = docs.select(
        "doc_id", "source", n.cast("long").alias("n_tokens")
    ).withColumn("tok_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        "tok_offset",
        F.floor(F.col("tok_offset") / _PACK_C).alias("first_block"),
        F.floor((F.col("tok_offset") + F.col("n_tokens") - 1) / _PACK_C).alias(
            "last_block"
        ),
    )


@register(
    "embedding_quantize",
    f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
s AS (
  SELECT vec_id, e,
         greatest(list_max(list_transform(e, x -> abs(x))) / {_QMAX}, 1e-30)
           AS scale
  FROM d
),
q AS (
  SELECT vec_id, e, scale,
         list_transform(e, x -> CAST(FLOOR(x / scale + 0.5) AS BIGINT)) AS codes
  FROM s
)
SELECT vec_id,
       scale,
       array_to_string(codes, ',') AS codes_str,
       list_reduce(
         list_transform(list_zip(e, codes),
                        p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale)),
         (a, b) -> a + b) / 64 AS mse
FROM q
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding corpus —
    the standard on-disk compression for billion-vector ANN serving
    (4x smaller than float32, recall loss ~0): per-vector scale =
    max|x|/127, code_i = floor(x_i/scale + 0.5) in [-127, 127].
    Emits the code vector (as a comma string, hash-checkable) and the
    reconstruction MSE.  Pure map-side projection — no shuffle; at
    100 TB this runs inside the corpus scan like every other narrow
    transform."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    scale = F.greatest(
        F.array_max(F.transform("e", lambda x: F.abs(x))) / _QMAX, F.lit(1e-30)
    )
    s = emb.withColumn("scale", scale)
    codes = F.transform(
        "e", lambda x: F.floor(x / F.col("scale") + 0.5)
    )
    q = s.withColumn("codes", codes)
    err2 = F.zip_with(
        "e", "codes", lambda x, c: (x - c * F.col("scale")) * (x - c * F.col("scale"))
    )
    mse = F.aggregate(err2, F.lit(0.0), lambda acc, x: acc + x) / 64
    return q.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.transform("codes", lambda c: c.cast("string"))).alias(
            "codes_str"
        ),
        mse.alias("mse"),
    )


_SHARD_B = 4096  # shard token budget

# integer division, NOT floor-of-double-division: tok_offset/_SHARD_B
# as ``/`` promotes to double in both engines, and floor over a double
# is exact only below 2^53 total tokens — a ceiling a 100 TB corpus
# actually approaches (ADVICE r12).  ``div`` (Spark) / ``//`` (DuckDB)
# on BIGINT is exact at any magnitude.
_SHARD_ID = f"tok_offset div {_SHARD_B}"


def _global_stream_offsets(
    spark: SparkSession, base: DataFrame, base_offset: int = 0
) -> tuple[DataFrame, int]:
    """The two-level distributed exclusive prefix sum over a global
    doc_id-ordered token stream — the shared core of every manifest
    builder.  ``base`` carries (doc_id, ..., n_tokens); returns the
    frame with ``tok_offset`` appended plus the stream's end offset
    (= base_offset + total tokens), which the incremental manifest
    continues from.

    Why not ``Window.orderBy(doc_id)`` with no partitionBy: that drags
    the entire corpus through ONE task — the canonical Spark
    scale-killer.  Instead:

      1. range-repartition by doc_id (partition i holds smaller ids
         than partition i+1) and stamp ``spark_partition_id()``;
         localCheckpoint so both consumers below read the SAME
         boundaries (range sampling is not otherwise replay-stable);
      2. per-partition token totals -> a partitions-sized table,
         collected (bounded by CLUSTER parallelism, never by data —
         the same bounded-collect class as the PQ codebooks) and
         prefix-summed driver-side into per-partition global offsets;
      3. broadcast the offsets back and add the within-partition
         running sum (window PARTITIONED by pid — parallel).  No
         partition-less Window anywhere, at any scale."""
    b = (
        base.repartitionByRange(spark.sparkContext.defaultParallelism, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    ptots = sorted(b.groupBy("pid").agg(F.sum("n_tokens").alias("ptot")).collect())
    rows, cum = [], base_offset
    for r in ptots:
        rows.append((r.pid, cum))
        cum += r.ptot
    offsets = spark.createDataFrame(rows, "pid int, poff long")
    w = Window.partitionBy("pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = (
        b.withColumn("run", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .join(F.broadcast(offsets), "pid")
        .withColumn("tok_offset", F.col("poff") + F.col("run"))
        .drop("pid", "poff", "run")
    )
    return out, cum


@register(
    "shard_manifest",
    f"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS tok_offset
  FROM t
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(tok_offset AS BIGINT) AS tok_offset,
       CAST(tok_offset AS BIGINT) // {_SHARD_B} AS shard_id
FROM c
""",
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export sharding — the last mile of a curation
    pipeline: documents are laid out in ONE GLOBAL doc_id-ordered
    token stream and assigned to fixed {_SHARD_B}-token shards by
    their (exclusive) stream offset, so any consumer can rebuild the
    exact same shard set from the manifest.  The global prefix sum is
    the two-level distributed scan (:func:`_global_stream_offsets` —
    partition partials, bounded collect, broadcast-back, pid-
    partitioned window; no partition-less Window at any scale).

    Exclusive-prefix semantics: a document straddling a boundary
    belongs to the shard its first token lands in.  All-BIGINT
    arithmetic including the shard id (``div`` / ``//``, never
    floor-of-double) — exact in both engines at any token count."""
    return _manifest(spark, load_table(spark, sf_dir, "documents"))


def _manifest(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The shard manifest of ``docs`` as one doc_id-ordered stream."""
    n = F.size(F.split("text", " "))
    base = docs.select("doc_id", "source", n.cast("long").alias("n_tokens"))
    out, _ = _global_stream_offsets(spark, base)
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        "tok_offset",
        F.expr(_SHARD_ID).alias("shard_id"),
    )


# ---------------------------------------------------------------------------
# Incremental manifest maintenance + the curated-release manifest (round 13)
# ---------------------------------------------------------------------------


def _old_manifest_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OLD-corpus (doc_id % mod != 0) shard manifest, read from
    its persisted artifact — built on first use with the identical
    two-level prefix scan as :func:`shard_manifest` restricted to the
    old corpus, and keyed by every manifest dial (the split modulus
    and the shard budget) and the documents fixture
    (``scratch.artifact``)."""
    from tsengine.operators.similarity import _INC_MOD, _KNN_GRAPH_DIR

    def write(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        old = docs.filter(F.col("doc_id") % _INC_MOD != 0)
        _manifest(spark, old).write.mode("overwrite").parquet(tmp)

    path = artifact(
        _KNN_GRAPH_DIR,
        sf_dir,
        f"manifest_old{_INC_MOD}_b{_SHARD_B}",
        ("documents",),
        write,
    )
    return spark.read.parquet(path)


def _inc_manifest_oracle() -> str:
    from tsengine.operators.similarity import _INC_MOD

    return f"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS tok_offset
  FROM t WHERE doc_id % {_INC_MOD} <> 0
),
tot AS (SELECT COALESCE(SUM(n_tokens), 0) AS base FROM o),
nw AS (
  SELECT doc_id, source, n_tokens,
         base + SUM(n_tokens) OVER (ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS tok_offset
  FROM t CROSS JOIN tot WHERE doc_id % {_INC_MOD} = 0
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(tok_offset AS BIGINT) AS tok_offset,
       CAST(tok_offset AS BIGINT) // {_SHARD_B} AS shard_id
FROM (SELECT * FROM o UNION ALL SELECT * FROM nw)
"""


@register("shard_manifest_incremental", _inc_manifest_oracle())
def shard_manifest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental export sharding — the manifest twin of
    ``knn_graph_update`` (VERDICT r12 item 3): a new doc batch
    (doc_id % mod == 0, the engine's standing ingest-split convention)
    APPENDS to the persisted old-corpus manifest, its offsets
    continuing from the artifact's end offset, WITHOUT rewriting any
    existing row — exports already shipped to consumers are immutable,
    so a daily ingest must extend the stream, never renumber it.  The
    old rows therefore form a byte-identical PREFIX of the stream in
    both the incremental run and a from-scratch (old-then-new ordered)
    rebuild — pinned by pytest.

    100 TB shape: the old manifest is an artifact READ (built once via
    the shared publish path); the new batch pays one two-level prefix
    scan linear in BATCH size, seeded at the old end offset (one
    bounded 1-row aggregate of the skinny artifact); the append is a
    union of disjoint id ranges.  All-BIGINT arithmetic throughout."""
    from tsengine.operators.similarity import _INC_MOD

    old = _old_manifest_cached(spark, sf_dir)
    base_total = old.agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("t")
    ).collect()[0][0]
    newdocs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _INC_MOD == 0
    )
    n = F.size(F.split("text", " "))
    base = newdocs.select("doc_id", "source", n.cast("long").alias("n_tokens"))
    out, _ = _global_stream_offsets(spark, base, base_offset=int(base_total))
    new_rows = out.select(
        "doc_id",
        "source",
        "n_tokens",
        "tok_offset",
        F.expr(_SHARD_ID).alias("shard_id"),
    )
    return old.unionByName(new_rows)


def _release_oracle() -> str:
    """pipeline_curation_v3's verified fragment chain through ``kept``
    (the gated survivor set — the realistic release corpus), with the
    sample projection swapped for the manifest's two-level prefix sum:
    the oracle composes the EXACT SQL each stage is individually
    verified with, so a stage fix propagates automatically."""
    from tsengine.operators.similarity import (
        _CURV3_SAMPLE_TAIL,
        _curation_v3_oracle,
    )

    manifest_tail = f""", tk AS (
  SELECT k.doc_id, k.source, len(string_split(d.text, ' ')) AS n_tokens
  FROM kept k JOIN documents d ON d.doc_id = k.doc_id
),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS tok_offset
  FROM tk
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(tok_offset AS BIGINT) AS tok_offset,
       CAST(tok_offset AS BIGINT) // {_SHARD_B} AS shard_id
FROM c"""
    o = _curation_v3_oracle().replace(_CURV3_SAMPLE_TAIL, manifest_tail)
    # explicit raise, not assert (stripped under -O): a no-op replace
    # must fail at import, never run as a silent wrong-shape oracle
    if "tok_offset" not in o or "LIMIT" in o:
        raise RuntimeError(
            "pipeline_release oracle drift: the v3 sample-tail swap "
            "did not take — the release oracle must end in the "
            "manifest projection, not the sample LIMIT"
        )
    return o


@register("pipeline_release", _release_oracle())
def pipeline_release(
    spark: SparkSession, sf_dir: str, n_bits: int | None = None
) -> DataFrame:
    """The release artifact a training run actually consumes (VERDICT
    r12 item 2): the CURATED corpus — semantic-dedup survivors that
    passed the Gopher gate, i.e. the v3 pipeline's ``kept`` set —
    laid out as one global doc_id-ordered token stream and sharded by
    the two-level prefix scan.  ``shard_manifest`` shards the RAW
    corpus; a production release ships the curated output (the
    reference's analog: the persisted result tables at
    unsupervised.py:485-488 are what ships, not the raw pickles).
    Pairs with ``curation_funnel_report`` as the manifest + data-card
    release pair.

    Every stage is a read of a verified component: semantic clusters
    from the materialized graph artifact, gate flags from the
    persisted old-corpus flag artifact plus the new batch's projection
    (:func:`similarity._gate_flags_incremental`), and the manifest
    core shared with ``shard_manifest``.  Sampling is deliberately NOT
    applied — a release ships every kept document; the weighted sample
    is the training-mixture step downstream of the release.

    100 TB shape: the graph and flag artifacts were paid once; this
    run adds two skinny doc_id joins, one n_tokens projection joined
    onto the kept set, and the two-level scan over the KEPT corpus
    (strictly smaller than the raw manifest's input).  All-BIGINT
    offsets/shard ids."""
    from tsengine.operators.graph import hash_min_components
    from tsengine.operators.similarity import (
        N_BITS,
        _curation_stages,
        _gate_flags_incremental,
        _knn_graph_cached,
        _knn_mutual_edges,
    )

    nb = N_BITS if n_bits is None else n_bits
    graph = _knn_graph_cached(spark, sf_dir, nb)
    cdocs = hash_min_components(
        _knn_mutual_edges(spark, sf_dir, nb, graph=graph)
    ).select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))
    st = _curation_stages(
        spark, sf_dir, cdocs, gate=_gate_flags_incremental(spark, sf_dir)
    )
    kept = st["gated"].select("doc_id", "source")
    ntok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    base = kept.join(ntok, "doc_id")
    out, _ = _global_stream_offsets(spark, base)
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        "tok_offset",
        F.expr(_SHARD_ID).alias("shard_id"),
    )
