"""Deduplication operators for training-data pipelines (project north
star, BASELINE.json; not present in the reference — designed
Spark-native per SURVEY.md §7.2 M6).

Five dedup families over the ``documents`` table:

  * exact        — hash-groupBy on full text
  * minhash_lsh  — shingle -> 16 minhashes -> 4 LSH bands -> bucket join
  * simhash      — 16-bit sign-of-weighted-sum fingerprint
  * ngram_jaccard— exact Jaccard over token 3-gram shingles via an
                   inverted-index self-join (the verification path that
                   MinHash approximates at scale)
  * embedding    — cosine near-duplicate pairs over the vector column

Portability trick that makes ALL of these oracle-checkable: the hash
function is md5 (identical in Spark and DuckDB) reinterpreted as a
64-bit int — Spark ``conv(substr(md5(x),1,8),16,10)``, DuckDB
``('0x'||substr(md5(x),1,8))::BIGINT`` — and every derived hash
(minhash permutations, simhash bits) is plain BIGINT arithmetic.

Scale shape: shingling is a narrow projection; minhash is one
groupBy(doc, perm); the LSH bucket join replaces the O(n²) pair space
with joins on (band, signature) — the standard 100 TB dedup plan.  The
exact-Jaccard inverted index join is quadratic in bucket-popular
shingles and exists as the small-scale verifier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tsengine.operators.graph import hash_min_components
from tsengine.registry import register
from tsengine.sources.tables import load_table

N_PERM = 16
N_BANDS = 4
_MOD = 2147483647

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

_TOKENS_CTE = """
tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         unnest(range(0, len(string_split(text, ' ')))) AS i
  FROM documents
)"""

_SHINGLES_CTE = """
shingles AS (
  SELECT DISTINCT doc_id, tok || ' ' || t1 || ' ' || t2 AS sh
  FROM (
    SELECT doc_id, tok,
           LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY i) AS t1,
           LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY i) AS t2
    FROM tokens
  )
  WHERE t1 IS NOT NULL AND t2 IS NOT NULL
)"""

_SH_HASH_CTE = """
sh_hash AS (
  SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h FROM shingles
)"""


def tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok")
    )


def gram_array(n: int, toks_col: str = "toks"):
    """Distinct token n-grams of one row's token array as a map-side
    column expression — ``array_distinct(transform(sequence(...)))``,
    zero shuffles, per-row state bounded by document length."""
    toks = F.col(toks_col)

    def gram(i):
        return F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(1, n + 1)]
        )

    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(F.transform(idx, gram))


def grams_df(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """(doc_id, gram) pairs — distinct token n-grams per document.

    Pure map-side: shingling happens INSIDE each row via
    :func:`gram_array`, so the stage adds ZERO shuffles — the old
    explode -> lead()-window -> distinct formulation paid a per-doc
    sort shuffle plus a distinct shuffle before the minhash groupBy
    even started.  Downstream consumers take MIN / set aggregates,
    which are order- and multiplicity-insensitive, so the set semantics
    are identical (the DuckDB oracles keep the window formulation as an
    independent derivation)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.withColumn("toks", F.split("text", " ")).select(
        "doc_id", F.explode(gram_array(n)).alias("sh")
    )


def shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct token 3-gram shingles per document (map-side; see
    :func:`grams_df`)."""
    return grams_df(spark, sf_dir, 3)


def _md5_int(col):
    """Portable 32-bit hash: identical value in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _md5_int60(col):
    """Portable 60-bit hash (15 hex chars — stays inside signed int64)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs
FROM documents
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup = hash-groupBy on the full text (md5 keeps the
    shuffle key 32 bytes instead of the document body — the at-scale
    form).  Output: corpus summary (the fixture corpus has no exact
    dups, so pair output would be empty)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dup_docs"),
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.2


@register(
    "dedup_ngram_jaccard",
    "WITH "
    + ",".join([_TOKENS_CTE, _SHINGLES_CTE])
    + f"""
, pair_common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
doc_n AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id)
SELECT doc_a, doc_b,
       ROUND(common * 1.0 / (na.n + nb.n - common), 6) AS jaccard
FROM pair_common
JOIN doc_n na ON doc_a = na.doc_id
JOIN doc_n nb ON doc_b = nb.doc_id
WHERE common * 1.0 / (na.n + nb.n - common) >= {_JACCARD_THRESHOLD}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via shingle inverted-index
    self-join — candidate pairs only materialize for co-occurring
    shingles (never the full n² pair space)."""
    sh = shingles_df(spark, sf_dir)
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    doc_n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    na = doc_n.alias("na")
    nb = doc_n.alias("nb")
    jac = F.col("common") * 1.0 / (F.col("na.n") + F.col("nb.n") - F.col("common"))
    return (
        common.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .filter(jac >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MINHASH_CTE = f"""
minhash AS (
  SELECT doc_id, CAST(p AS INT) AS p,
         MIN((h * (2 * p + 1) + p * 1000003) % {_MOD}) AS mh
  FROM sh_hash CROSS JOIN (SELECT unnest(range(0, {N_PERM})) AS p)
  GROUP BY 1, 2
)"""

_BANDS_CTE = f"""
bands AS (
  SELECT doc_id, CAST(FLOOR(p / {N_PERM // N_BANDS}.0) AS BIGINT) AS band,
         CONCAT(MAX(CASE WHEN p % 4 = 0 THEN mh END), '-',
                MAX(CASE WHEN p % 4 = 1 THEN mh END), '-',
                MAX(CASE WHEN p % 4 = 2 THEN mh END), '-',
                MAX(CASE WHEN p % 4 = 3 THEN mh END)) AS sig
  FROM minhash GROUP BY 1, 2
)"""


def minhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16 minhash values per doc: universal-hash permutations of the
    shingle md5.

    All N_PERM minima are computed as parallel aggregates in ONE
    groupBy(doc_id) pass and unpivoted afterwards — the perms x shingles
    cross join would push N_PERM x the shingle volume through the
    shuffle, whereas parallel aggs ride map-side partial aggregation
    (the shuffle carries ~n_docs x N_PERM pre-combined values).  At
    100 TB of shingles that is the difference between a 16x-amplified
    shuffle and a constant-size one."""
    sh = shingles_df(spark, sf_dir).select("doc_id", _md5_int("sh").alias("h"))
    mins = [
        F.min((F.col("h") * (2 * p + 1) + p * 1000003) % _MOD).alias(f"mh{p}")
        for p in range(N_PERM)
    ]
    wide = sh.groupBy("doc_id").agg(*mins)
    stack = ", ".join(f"{p}, mh{p}" for p in range(N_PERM))
    return wide.select(
        "doc_id", F.expr(f"stack({N_PERM}, {stack}) AS (p, mh)")
    ).select("doc_id", F.col("p").cast("int"), "mh")


def lsh_bands_df(minhash: DataFrame) -> DataFrame:
    rows_per_band = N_PERM // N_BANDS
    sig = F.concat_ws(
        "-",
        *[
            F.max(F.when(F.col("p") % 4 == i, F.col("mh"))).cast("string")
            for i in range(rows_per_band)
        ],
    )
    return minhash.groupBy(
        "doc_id", F.floor(F.col("p") / float(rows_per_band)).alias("band")
    ).agg(sig.alias("sig"))


@register(
    "dedup_minhash_lsh",
    "WITH "
    + ",".join([_TOKENS_CTE, _SHINGLES_CTE, _SH_HASH_CTE, _MINHASH_CTE, _BANDS_CTE])
    + f"""
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       ROUND(SUM(CASE WHEN ma.mh = mb.mh THEN 1.0 ELSE 0.0 END) / {N_PERM}, 6) AS est_jaccard
FROM cand c
JOIN minhash ma ON ma.doc_id = c.doc_a
JOIN minhash mb ON mb.doc_id = c.doc_b AND mb.p = ma.p
GROUP BY 1, 2
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: band-signature bucket join
    (4 bands × 4 rows) then minhash-agreement Jaccard estimate for the
    candidates — the linear-shuffle dedup plan for 100 TB corpora.

    Single-subtree shape: map-side shingling (:func:`grams_df`) feeds
    ONE groupBy(doc_id) that computes all 16 minima AND packs them into
    an array; the 4 band signatures posexplode from the same row, and
    the full signature array rides through the bucket self-join so the
    Jaccard estimate is a zip_with over the joined arrays — no second
    join back to a per-permutation table.  The shuffle carries
    n_docs x 16 map-side-combined minima, nothing proportional to the
    shingle volume.

    Measured dead end (do not revisit): computing the 16 minima as
    per-row ``array_min(transform(...))`` expressions — zero shuffle on
    paper — is 5x SLOWER than this explode+groupBy plan, because Spark
    evaluates higher-order array functions interpreted (outside
    whole-stage codegen) and the md5 transform re-inlines into every
    minimum after projection collapse.

    The self-join is PINNED shuffle-hash (r5): left unhinted, Catalyst
    broadcasts the b side — a corpus-sized signature table (n_docs x
    n_bands rows each carrying the 16-minhash array), the same
    unbounded-broadcast failure class as perplexity_filter's 72x
    blowup, an OOM at real scale — and, worse, the broadcast branch
    shares nothing with the streamed branch, so the whole scan ->
    shingle -> 16-min agg subtree executed TWICE.  With both sides
    shuffle-partitioned on (band, sig), AQE's stage cache reuses the
    identical upstream, computing it ONCE: measured at the x100 tier,
    6.95s (broadcast, double-compute) -> 4.71s, and the x100/x1 ratio
    drops from 8.8x (SCALING.md r4) to ~4x."""
    sh = shingles_df(spark, sf_dir).select("doc_id", _md5_int("sh").alias("h"))
    mins = [
        F.min((F.col("h") * (2 * p + 1) + p * 1000003) % _MOD).alias(f"mh{p}")
        for p in range(N_PERM)
    ]
    wide = sh.groupBy("doc_id").agg(*mins)
    rows_per_band = N_PERM // N_BANDS
    sigs = F.array(
        *[
            F.concat_ws(
                "-",
                *[
                    F.col(f"mh{b * rows_per_band + i}").cast("string")
                    for i in range(rows_per_band)
                ],
            )
            for b in range(N_BANDS)
        ]
    )
    mhs = F.array(*[F.col(f"mh{p}") for p in range(N_PERM)])
    tagged = wide.select(
        "doc_id", mhs.alias("mhs"), F.posexplode(sigs).alias("band", "sig")
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    est = F.round(
        F.aggregate(
            F.zip_with(
                F.col("a.mhs"),
                F.col("b.mhs"),
                lambda x, y: F.when(x == y, 1.0).otherwise(0.0),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / N_PERM,
        6,
    )
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            est.alias("est_jaccard"),
        )
        .distinct()
    )


@register(
    "dedup_incremental",
    "WITH "
    + ",".join([_TOKENS_CTE, _SHINGLES_CTE, _SH_HASH_CTE, _MINHASH_CTE, _BANDS_CTE])
    + f"""
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS match_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8
),
scored AS (
  SELECT c.doc_id, c.match_id,
         SUM(CASE WHEN ma.mh = mb.mh THEN 1.0 ELSE 0.0 END) / {N_PERM} AS ej
  FROM cand c
  JOIN minhash ma ON ma.doc_id = c.doc_id
  JOIN minhash mb ON mb.doc_id = c.match_id AND mb.p = ma.p
  GROUP BY 1, 2
)
SELECT doc_id, match_id, ROUND(ej, 6) AS est_jaccard FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY ej DESC, match_id) AS rk
  FROM scored WHERE ej >= 0.25
) WHERE rk = 1
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: a NEW batch (doc_id % 10 >= 8 plays today's
    ingest) LSH-probed against the EXISTING corpus (doc_id % 10 < 8),
    returning each batch doc's best corpus match at est_jaccard >=
    0.25 — the shape a daily pipeline actually runs, where the corpus
    is never re-self-joined: its band signatures are a maintained
    index table and each ingest pays one asymmetric band equi-join
    LINEAR in batch size.  Complements `dedup_minhash_lsh` (the full
    corpus self-join a BOOTSTRAP runs once).

    Same single-subtree signature build as `dedup_minhash_lsh`
    (map-side shingles, ONE groupBy(doc_id) for all {N_PERM} minima,
    signature array riding the join so the Jaccard estimate is a
    zip_with on joined arrays — no per-permutation re-join); the
    batch/corpus split replaces the a.doc_id < b.doc_id self-join
    triangle.  The join stays PINNED shuffle-hash for the same reason
    as the parent: unhinted, Catalyst broadcasts the corpus-sized band
    index (the unbounded-broadcast failure class) — at a real ingest
    the CORPUS side is the unbroadcastable one and the batch side
    streams.

    Determinism: the estimate is agreement-count / {N_PERM} — an exact
    n/16 binary fraction in both engines — so the >= 0.25 floor and
    the (est DESC, match_id) argmax are engine-deterministic with no
    rounding exposure (ROUND(,6) on an exact 4dp-representable value
    is the identity)."""
    sh = shingles_df(spark, sf_dir).select("doc_id", _md5_int("sh").alias("h"))
    mins = [
        F.min((F.col("h") * (2 * p + 1) + p * 1000003) % _MOD).alias(f"mh{p}")
        for p in range(N_PERM)
    ]
    wide = sh.groupBy("doc_id").agg(*mins)
    rows_per_band = N_PERM // N_BANDS
    sigs = F.array(
        *[
            F.concat_ws(
                "-",
                *[
                    F.col(f"mh{b * rows_per_band + i}").cast("string")
                    for i in range(rows_per_band)
                ],
            )
            for b in range(N_BANDS)
        ]
    )
    mhs = F.array(*[F.col(f"mh{p}") for p in range(N_PERM)])
    tagged = wide.select(
        "doc_id", mhs.alias("mhs"), F.posexplode(sigs).alias("band", "sig")
    )
    batch = tagged.filter(F.col("doc_id") % 10 >= 8).alias("a")
    corpus = tagged.filter(F.col("doc_id") % 10 < 8).alias("b")
    est = F.aggregate(
        F.zip_with(
            F.col("a.mhs"),
            F.col("b.mhs"),
            lambda x, y: F.when(x == y, 1.0).otherwise(0.0),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / N_PERM
    cand = (
        batch.join(
            corpus.hint("shuffle_hash"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("match_id"),
            est.alias("ej"),
        )
        .distinct()
        .filter(F.col("ej") >= 0.25)
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("ej").desc(), "match_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "match_id", F.round("ej", 6).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

N_BITS = 60  # 15 md5 hex chars; wide enough that band buckets stay
# selective at corpus cardinality (16 bits saturate by birthday at ~5k
# docs, collapsing the pair join toward all-pairs)

_SIMHASH_ORACLE = (
    "WITH "
    + ",".join([_TOKENS_CTE])
    + f"""
, tok_hash AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tokens
),
bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM tok_hash CROSS JOIN (SELECT unnest(range(0, {N_BITS})) AS b)
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""
)


@register("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document: each bit is the sign of the summed
    ±1 votes of the token hashes — near-dups differ in few bits
    (pairing by Hamming distance is the band join `dedup_simhash_pairs`
    below).

    The ±1 vote sum for bit b is 2*S_b - n where S_b counts tokens with
    bit b set, so all 60 bits fall out of ONE groupBy(doc_id) with 60
    conditional sums + a count — no bit-explode crossJoin, no second
    shuffle (the round-2 explode form pushed tokens x bits rows through
    two aggs; 19s -> ~4s at the 100x tier when this landed at 16 bits).
    Bit votes are exact integers, so the independently-derived oracle
    (explicit bits CTE over >> arithmetic) matches bit-for-bit."""
    th = tokens_df(spark, sf_dir).select("doc_id", _md5_int60("tok").alias("h"))

    def bit_set(b: int):
        return (F.col("h").bitwiseAND(F.lit(1 << b)) != 0).cast("int")

    s = th.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(bit_set(b)).alias(f"s{b}") for b in range(N_BITS)],
    )
    # bit b is set iff the vote sum 2*S_b - n is strictly positive
    simhash = sum(
        F.when(2 * F.col(f"s{b}") > F.col("n"), F.lit(1 << b)).otherwise(0)
        for b in range(N_BITS)
    )
    return s.select("doc_id", simhash.cast("long").alias("simhash"))


_SH_BANDS = 4  # 4 bands x 15 bits over the 60-bit fingerprint
_SH_BAND_BITS = N_BITS // _SH_BANDS
_SH_MAX_HAMMING = 3  # pigeonhole: <=3 differing bits leave >=1 band intact


@register(
    "dedup_simhash_pairs",
    f"""
WITH sh AS ({_SIMHASH_ORACLE}),
bands AS (
  SELECT doc_id, simhash, b AS band,
         (simhash >> ({_SH_BAND_BITS} * b)) & {(1 << _SH_BAND_BITS) - 1} AS val
  FROM sh CROSS JOIN (SELECT unnest(range(0, {_SH_BANDS})) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS ha, b.simhash AS hb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {_SH_MAX_HAMMING}
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate PAIRS from the SimHash fingerprints — the pairing
    step the fingerprint op promises: split the 60-bit hash into 4
    bands of 15 bits, equi-join documents sharing any (band, value)
    bucket, then keep pairs within Hamming distance 3.

    By pigeonhole the band join is EXACT for this radius: 3 differing
    bits can dirty at most 3 of the 4 bands, so every qualifying pair
    collides in at least one bucket — no candidate is missed.  Scale
    shape is the same as MinHash-LSH (`dedup_minhash_lsh`): candidates
    come from a bucketed equi-join (band value = 15 selective bits, so
    buckets stay near-singleton on non-duplicate text), never an
    all-pairs product, and the Hamming filter is a map-side bit_count
    on the joined row.  Reference analog: the dedup family is a
    north-star extension (BASELINE.json); fingerprints from
    `dedup_simhash` above."""
    sh = dedup_simhash(spark, sf_dir)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), _SH_BAND_BITS * i)
                        .bitwiseAND(F.lit((1 << _SH_BAND_BITS) - 1))
                        .alias("val"),
                    )
                    for i in range(_SH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", "bv.band", "bv.val")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
        .filter(ham <= _SH_MAX_HAMMING)
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

_COS_THRESHOLD = 0.8
_EMB_BANDS = 32      # OR-construction width: the recall dial
_EMB_MIN_BITS = 12   # AND-construction floor: the selectivity dial
_EMB_SEED = 20260814


def _emb_band_udf(bits: int, bands: int, dim: int = 64):
    """Random-hyperplane band signatures as ONE Arrow-batch matmul:
    [n, dim] @ [dim, bits*bands] -> sign bits -> per-band packed
    BIGINT.  Hyperplanes are seeded Gaussian so every call with the
    same (bits, bands) sees the same planes; signatures never need to
    be reproduced by the oracle (the oracle is the all-pairs form)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _sig(e):
        if len(e) == 0:
            return pd.Series([], dtype=object)
        rng = np.random.default_rng(_EMB_SEED)
        planes = rng.standard_normal((dim, bits * bands))
        # C-level conversion: tolist() + one asarray is ~10x np.vstack
        # over 200k object rows (measured: the vstack form made the
        # signature pass the query's 18s bottleneck at the 100x tier)
        mat = np.asarray(e.tolist(), dtype=np.float64)  # [n, dim]
        sbits = (mat @ planes >= 0).astype(np.int64)  # [n, bits*bands]
        pows = 1 << np.arange(bits, dtype=np.int64)
        packed = sbits.reshape(len(e), bands, bits) @ pows  # [n, bands]
        return pd.Series(list(packed))

    return pandas_udf(_sig, "array<bigint>")


def _embedding_dup_pairs(
    emb: DataFrame, bits: int, bands: int = _EMB_BANDS,
    threshold: float = _COS_THRESHOLD,
) -> DataFrame:
    """Bucketed near-dup core: band equi-join candidates + exact cosine
    verify.  ``emb`` must have columns (vec_id, e: array<double>).

    Plan shape (the 100 TB contract, pinned in
    tests/test_plan_contracts.py): signature compute is a map-side
    Arrow matmul; candidate generation is a shuffle-hash equi-join on
    (band, bucket) over a SLIM (vec_id, band, bucket) projection —
    never a cartesian; the distinct pair list then re-joins the vector
    column twice for the exact verify, so arrays never ride through
    the candidate shuffle."""
    sig = (
        emb.select("vec_id", _emb_band_udf(bits, bands)(F.col("e")).alias("bands"))
        .select("vec_id", F.posexplode("bands").alias("band", "bucket"))
    )
    a = sig.alias("a")
    b = sig.alias("b")
    pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("e_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("e_b"))

    # vectorized exact verify: one einsum per Arrow batch.  The
    # Catalyst aggregate/zip_with fold form runs INTERPRETED (outside
    # codegen) per array element — 13s for 560k candidates at the 100x
    # tier vs <1s here; this query is rows-only registered, and the
    # recall pins compare against numpy, so the batch dot is the
    # contract-exact kernel.
    from pyspark.sql.functions import pandas_udf

    def _cos_batch(ea_s, eb_s):
        import numpy as np
        import pandas as pd

        if len(ea_s) == 0:
            return pd.Series([], dtype=float)
        ma = np.asarray(ea_s.tolist(), dtype=np.float64)
        mb = np.asarray(eb_s.tolist(), dtype=np.float64)
        dots = np.einsum("ij,ij->i", ma, mb)
        na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
        nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
        return pd.Series(dots / (na * nb))

    cos = pandas_udf(_cos_batch, "double")
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos", cos(F.col("e_a"), F.col("e_b")))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))
    )


_EMB_BLOCK_TARGET = 2048  # vectors per block in the exact kernel


def _embedding_allpairs_exact(
    emb: DataFrame, n: int, threshold: float = _COS_THRESHOLD
) -> DataFrame:
    """EXACT cosine all-pairs >= threshold over (vec_id, e) — the
    verification kernel.  Compute is irreducibly O(N^2) (no
    approximation), but it is executed as dense Arrow block matmuls,
    not a row-level CartesianProduct: vectors hash into
    ceil(N/{_EMB_BLOCK_TARGET})-vector blocks, each packed-block row on
    the b side is REPLICATED once per partner block via
    ``explode(sequence(0, bbid))`` (the B(B+1)/2 upper-triangle pair
    directory as a generated equi-join key — never a non-equi join,
    which would plan BroadcastNestedLoopJoin and broadcast the packed
    CORPUS, ADVICE r7), the a side equi-joins on that key under a
    shuffle_hash pin, and one mapInPandas kernel per block pair runs
    the [na, 64] @ [nb, 64]^T BLAS product and emits only qualifying
    (vec_a < vec_b, cos) rows — so shuffle volume is O(N*B), never
    O(N^2) rows, and no corpus-derived table is ever broadcast
    (tests/test_dedup_embedding_lsh.py pins the plan)."""
    import math

    n_blocks = max(1, math.ceil(n / _EMB_BLOCK_TARGET))
    blk = emb.select(
        "vec_id", "e", F.pmod(F.hash("vec_id"), F.lit(n_blocks)).alias("bid")
    )
    packed = blk.groupBy("bid").agg(
        F.collect_list(F.struct("vec_id", "e")).alias("items")
    )
    a = packed.select(F.col("bid").alias("abid"), F.col("items").alias("ai"))
    b = packed.select(
        F.explode(F.sequence(F.lit(0), F.col("bid"))).alias("abid"),
        F.col("bid").alias("bbid"),
        F.col("items").alias("bi"),
    )
    pairs = a.hint("shuffle_hash").join(b, "abid")

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                ai, bi = row["ai"], row["bi"]
                ida = np.array([it["vec_id"] for it in ai], dtype=np.int64)
                idb = np.array([it["vec_id"] for it in bi], dtype=np.int64)
                ma = np.vstack([np.asarray(it["e"]) for it in ai])
                mb = np.vstack([np.asarray(it["e"]) for it in bi])
                ma = ma / np.linalg.norm(ma, axis=1, keepdims=True)
                mb = mb / np.linalg.norm(mb, axis=1, keepdims=True)
                cos = ma @ mb.T
                ii, jj = np.nonzero(cos >= threshold)
                va, vb = ida[ii], idb[jj]
                keep = va != vb
                va, vb, cv = va[keep], vb[keep], cos[ii, jj][keep]
                lo, hi = np.minimum(va, vb), np.maximum(va, vb)
                # same-block pairs appear twice in the symmetric grid
                # (i,j)+(j,i); keep the va<vb orientation only
                dedup = va < vb if row["abid"] == row["bbid"] else slice(None)
                yield pd.DataFrame(
                    {
                        "vec_a": lo[dedup],
                        "vec_b": hi[dedup],
                        "cos": np.round(cv[dedup], 6),
                    }
                )

    return pairs.mapInPandas(kernel, "vec_a bigint, vec_b bigint, cos double")


@register(
    "dedup_embedding",
    f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(a.e, b.e), 6) AS cos
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.e, b.e) >= {_COS_THRESHOLD}
""",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.8), EXACT:
    every pair with cos >= 0.8, no candidate pruning — the plan
    matches the all-pairs oracle's semantics on ANY input, restoring
    the exact-twin contract (ADVICE r6: the previous LSH plan under
    this value-checked name silently missed [0.8, ~0.95) pairs the
    oracle returns; it only passed because the fixture has no pair
    above cos 0.61).

    Execution is the blocked Arrow matmul kernel
    (``_embedding_allpairs_exact``): O(N^2) FLOPs — the information-
    theoretic floor for an exact threshold join in high dimension —
    but as dense BLAS over B(B+1)/2 block pairs with O(N*B) shuffle
    rows, not a row-level cartesian.  This is the exactness REFERENCE
    (run at validation scale); the registered production scale path is
    ``dedup_embedding_lsh``, whose sub-quadratic banding trades
    boundary recall for linear candidate volume.  Mirrors the
    ``group_quantiles`` (exact) / ``group_quantiles_approx`` (sketch)
    twin pattern."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    n = emb.count()  # metadata-only parquet count: sizes the blocks
    return _embedding_allpairs_exact(emb, n)


@register("dedup_embedding_lsh", None)  # approximate recall: rows-only
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of ``dedup_embedding``: random-hyperplane LSH
    banding + exact cosine verify — sub-quadratic candidate volume,
    APPROXIMATE recall, so registered rows-only (an exact value oracle
    would overclaim; see ADVICE r6 and the twin's docstring).

    Parameters: {_EMB_BANDS} bands of ``max({_EMB_MIN_BITS},
    ceil(log2 N)+4)`` sign-bits.  bits ~ log2(N) keeps expected random
    candidates per item at O(bands) — total candidate volume linear in
    N (the textbook LSH sub-quadratic trade).  Analytic recall at
    these widths: an exact duplicate (cos=1) always collides; at
    cos 0.95 a pair survives >=99.8% of the time at the floor width
    (miss = (1-p^bits)^bands with p = 1-acos(cos)/pi); at the 0.8
    boundary recall decays toward ~50% — the documented floor.  On a
    real deployment bands is the dial to buy recall back (~N^rho
    growth); the planted-dup recall pin lives in
    tests/test_dedup_embedding_lsh.py.  Precision is exact (every
    candidate is cosine-verified); only recall is approximate."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    n = emb.count()  # metadata-only parquet count: sizes the AND-width
    import math

    bits = max(_EMB_MIN_BITS, math.ceil(math.log2(max(n, 2))) + 4)
    return _embedding_dup_pairs(emb, bits=bits)


# ---------------------------------------------------------------------------
# duplicate-cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------

_MAX_CC_ITERS = 20

_PAIRS_SQL = (
    "WITH "
    + ",".join([_TOKENS_CTE, _SHINGLES_CTE, _SH_HASH_CTE, _MINHASH_CTE, _BANDS_CTE])
    + """
, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)"""
)


@register(
    "dedup_components",
    _PAIRS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + """
, edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT s AS node, d AS r FROM edges
  UNION
  SELECT reach.node, e.d FROM reach JOIN edges e ON reach.r = e.s
)
SELECT node AS doc_id, LEAST(node, MIN(r)) AS component
FROM reach GROUP BY node
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    MinHash-LSH candidate pairs, labelling every document in a dup
    cluster with the cluster's min doc_id (the canonical doc a pipeline
    keeps).  Spark side: GraphX-style hash-min label propagation — a
    driver loop of (join labels to neighbors, take min, test
    convergence), each iteration one shuffle, early-terminated; the
    iteration count is bounded by the component diameter, which for
    near-dup clusters is tiny.  At 100 TB: cache per iteration and
    localCheckpoint every few rounds to cut lineage.  Oracle: recursive
    CTE transitive closure (min reachable node == component min on an
    undirected graph)."""
    mh = minhash_df(spark, sf_dir)
    bands = lsh_bands_df(mh)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("node", "nbr")
    labels = hash_min_components(edges, max_iters=_MAX_CC_ITERS)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


@register(
    "dedup_keep_canonical",
    _PAIRS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + """
, edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT s AS node, d AS r FROM edges
  UNION
  SELECT reach.node, e.d FROM reach JOIN edges e ON reach.r = e.s
),
comp AS (
  SELECT node AS doc_id, LEAST(node, MIN(r)) AS component
  FROM reach GROUP BY node
),
sizes AS (SELECT component, COUNT(*) AS n_dups FROM comp GROUP BY 1)
SELECT d.doc_id, COALESCE(s.n_dups, 1) AS n_dups, d.n_chars
FROM documents d
LEFT JOIN sizes s ON d.doc_id = s.component
WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
""",
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE output of the dedup pipeline: the corpus with every
    near-duplicate cluster collapsed to its canonical (min-doc_id)
    member, annotated with the cluster size it absorbed.  Composes
    `dedup_components` (LSH candidates -> connected components) with an
    ANTI join dropping non-canonical members and a LEFT join attaching
    cluster sizes — the keep-one step every training-data pipeline runs
    after candidate generation.

    100 TB shape: the component table is proportional to DUPLICATED
    docs only (unique docs never enter it), the anti join shuffles one
    bigint key, and cluster sizes aggregate map-side — nothing here
    scales with corpus volume beyond the two key-joins."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n_dups"))
    non_canonical = comp.filter(F.col("doc_id") != F.col("component")).select(
        "doc_id"
    )
    return (
        docs.join(non_canonical, "doc_id", "left_anti")
        .join(sizes, docs.doc_id == sizes.component, "left")
        .select(
            "doc_id",
            F.coalesce("n_dups", F.lit(1)).alias("n_dups"),
            "n_chars",
        )
    )


# ---------------------------------------------------------------------------
# asymmetric containment (bottom-k sketch) — quote / superset detection
# ---------------------------------------------------------------------------

_CONT_K = 8           # bottom-k sketch width per document
_CONT_THRESHOLD = 0.75
_CONT_DF_CAP_FRAC = 0.01   # drop shingle hashes present in > 1% of docs
_CONT_DF_CAP_MIN = 4       # ...but never cap below 4 (tiny-corpus floor)


def _containment_pairs(
    sh: DataFrame, k: int = _CONT_K, threshold: float = _CONT_THRESHOLD
) -> DataFrame:
    """Bottom-k containment pairs over a (doc_id, h) distinct
    shingle-hash table, with the frequent-shingle df-cap applied BEFORE
    sketching: hashes whose document frequency exceeds
    GREATEST({_CONT_DF_CAP_MIN}, CEIL({_CONT_DF_CAP_FRAC}·n_docs)) are
    stop-shingles (present in >1% of docs, floor 4) — they carry no
    containment signal, and they are the one place the probe join can
    go df(h)² quadratic.
    Dropping them first keeps the sketch full-width over the
    *informative* shingles and bounds any single hash's join fan-out
    to cap² (tests/test_containment.py plants a stop-shingle corpus
    and pins the bound).  Shared by the registered query and tests."""
    nd = sh.agg(F.count_distinct("doc_id").alias("nd"))
    cap = F.greatest(
        F.lit(_CONT_DF_CAP_MIN), F.ceil(F.lit(_CONT_DF_CAP_FRAC) * F.col("nd"))
    )
    kept = (
        sh.withColumn("dfh", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("dfh") <= cap)
        .select("doc_id", "h")
    )
    w = Window.partitionBy("doc_id").orderBy("h")
    bk = (
        kept.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
    ksz = bk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("kk"))
    a, b = bk.alias("a"), kept.alias("b")
    hits = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_src"),
            F.col("b.doc_id").alias("doc_dst"),
        )
        .agg(F.count(F.lit(1)).alias("m"))
    )
    cont = F.col("m") * 1.0 / F.col("kk")
    return (
        hits.join(ksz.withColumnRenamed("doc_id", "doc_src"), "doc_src")
        .filter(cont >= threshold)
        .select("doc_src", "doc_dst", F.round(cont, 6).alias("containment"))
    )


@register(
    "minhash_containment",
    "WITH "
    + ",".join([_TOKENS_CTE, _SHINGLES_CTE])
    + f"""
, sh_hash AS (
  SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
  FROM shingles
),
nd AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM sh_hash),
sh_kept AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS dfh FROM sh_hash
  ) s CROSS JOIN nd
  WHERE dfh <= GREATEST({_CONT_DF_CAP_MIN}, CEIL({_CONT_DF_CAP_FRAC} * nd))
),
bk AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS rk
    FROM sh_kept
  ) WHERE rk <= {_CONT_K}
),
ksz AS (SELECT doc_id, COUNT(*) AS kk FROM bk GROUP BY 1),
hits AS (
  SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst, COUNT(*) AS m
  FROM bk a JOIN sh_kept b ON a.h = b.h AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_src, doc_dst, ROUND(m * 1.0 / ksz.kk, 6) AS containment
FROM hits JOIN ksz ON hits.doc_src = ksz.doc_id
WHERE m * 1.0 / ksz.kk >= {_CONT_THRESHOLD}
""",
)
def minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection via bottom-k sketch containment:
    est C(src in dst) = |bottom-k(src) ∩ shingles(dst)| / k — the
    quote/superset detector symmetric Jaccard LSH structurally misses
    (a 50-word quote inside a 5000-word page has Jaccard ~0.01 — no
    band ever collides — but containment ~1.0).  Broder's bottom-k
    estimator: the k smallest md5 shingle hashes of the contained side
    are a uniform sample of its shingle set, so the fraction found in
    the container's full set is an unbiased containment estimate
    (exact whenever the doc has <= k shingles, since then the sketch
    IS the set).

    Deterministic by construction — md5-derived hashes and a
    rank-by-hash sketch are replicated bit-for-bit by the oracle, so
    unlike a random-projection LSH plan this estimate value-checks
    exactly (the lesson of ADVICE r6 / dedup_embedding).

    100 TB shape: the sketch side is <= k rows per doc (a k*N-row
    probe table, NOT the corpus shingle volume); candidates
    materialize only for shared sketch hashes via one equi-join on h
    against the inverted shingle index; per-pair state is one count.
    Skew guard (r8): stop-shingle hashes — document frequency above
    GREATEST(4, CEIL(0.01·n_docs)) — are dropped BEFORE sketching
    (see `_containment_pairs`); without it a corpus-frequent shingle
    whose hash ranks bottom-k in many docs fans out as df(h)^2
    candidate rows.  The cap is mirrored in the oracle (window df +
    scalar doc count), so the estimate stays md5-deterministic and
    value-checks exactly; at sf0.01 the cap (5) actually fires (df 6-7
    hashes dropped), so the driver hash-check exercises the drop path.
    Measured (r7, 100x probe tier, pre-cap): probe-join volume 388k ->
    41.5M rows for 100x the corpus — linear at this vocabulary shape
    (that probe's SCALING_TAIL row read 11.2x; re-probes land in an
    11-13x host-noise band — a CPU-bound linear kernel over an
    overhead-dominated sf0.1 base); the cap turns that empirical
    linearity into a structural bound (<= cap^2 rows per hash)."""
    sh = (
        shingles_df(spark, sf_dir)
        .select("doc_id", _md5_int("sh").alias("h"))
        .distinct()
    )
    return _containment_pairs(sh)


# ---------------------------------------------------------------------------
# edit-distance dedup (LSH candidates + exact Levenshtein verify)
# ---------------------------------------------------------------------------

_LEV_REL_THRESHOLD = 0.3
_LEV_AGREE_MIN = 9  # of N_PERM=16: est Jaccard >= 0.5625 before the DP


@register(
    "dedup_levenshtein",
    "WITH "
    + ",".join([_TOKENS_CTE, _SHINGLES_CTE, _SH_HASH_CTE, _MINHASH_CTE, _BANDS_CTE])
    + f"""
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
agree AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN minhash ma ON ma.doc_id = c.doc_a
  JOIN minhash mb ON mb.doc_id = c.doc_b AND mb.p = ma.p
  GROUP BY 1, 2
  HAVING SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) >= {_LEV_AGREE_MIN}
)
SELECT doc_a, doc_b, CAST(levenshtein(da.text, db.text) AS INT) AS lev,
       ROUND(levenshtein(da.text, db.text) * 1.0
             / GREATEST(LEN(da.text), LEN(db.text)), 6) AS rel
FROM agree JOIN documents da ON doc_a = da.doc_id
           JOIN documents db ON doc_b = db.doc_id
WHERE levenshtein(da.text, db.text) * 1.0
      / GREATEST(LEN(da.text), LEN(db.text)) <= {_LEV_REL_THRESHOLD}
""",
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: MinHash-LSH band candidates,
    tightened by a {_LEV_AGREE_MIN}/{N_PERM} minhash-agreement floor
    (est Jaccard >= {_LEV_AGREE_MIN / N_PERM}), then EXACT
    character-level Levenshtein verify keeping relative edit distance
    lev/max(len) <= {_LEV_REL_THRESHOLD}.  Catches the small-edit
    duplicate class (typo fixes, whitespace/punct drift, template
    fills).  Both candidate stages are md5-deterministic and replicated
    bit-for-bit by the oracle, so recall is DEFINED by the candidate
    rule, not approximated against it.

    Why the agreement floor (r7, measured): the O(len_a*len_b) DP is
    ~1000x a hash compare, so candidate junk is where this query's
    scale budget dies — at the 100x probe tier, band collisions on
    low-signal shingles produced ~350x the true pair volume and the
    unfloored query spent 118s of 124s running DP on pairs the rel
    filter then discarded (58x tail ratio).  One zip_with over the
    in-flight signature arrays prunes them for the cost of 16 integer
    compares; the floor retains every verified pair at sf0.01 AND
    sf0.1 (kept-pair minimum agreement is 14/16 and 9/16 there;
    junk medians 7-8).

    100 TB shape: single-subtree signature pass (the
    `dedup_minhash_lsh` plan — one groupBy computes the 16 minima and
    the band signatures together, shuffle carries n_docs x 16
    combined minima); self-join PINNED shuffle_hash (unhinted,
    Catalyst broadcasts a corpus-sized signature table and
    double-computes the subtree — the documented r5 failure class);
    texts re-join by bigint doc_id only after both prunes, so the DP
    runs once per surviving pair."""
    sh = shingles_df(spark, sf_dir).select("doc_id", _md5_int("sh").alias("h"))
    mins = [
        F.min((F.col("h") * (2 * p + 1) + p * 1000003) % _MOD).alias(f"mh{p}")
        for p in range(N_PERM)
    ]
    wide = sh.groupBy("doc_id").agg(*mins)
    rows_per_band = N_PERM // N_BANDS
    sigs = F.array(
        *[
            F.concat_ws(
                "-",
                *[
                    F.col(f"mh{b * rows_per_band + i}").cast("string")
                    for i in range(rows_per_band)
                ],
            )
            for b in range(N_BANDS)
        ]
    )
    mhs = F.array(*[F.col(f"mh{p}") for p in range(N_PERM)])
    tagged = wide.select(
        "doc_id", mhs.alias("mhs"), F.posexplode(sigs).alias("band", "sig")
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    agr = F.aggregate(
        F.zip_with(
            F.col("a.mhs"),
            F.col("b.mhs"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    cand = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(agr >= _LEV_AGREE_MIN)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    # thresholded banded DP (Spark >= 3.5): per-row cutoff at exactly
    # the keep bound — lev <= rel*max  <=>  lev <= floor(rel*max) for
    # integer lev, so the -1 early-exits are precisely the pairs the
    # rel filter discards (kept set and values identical to the plain
    # form; measured 2.25x faster at the 100x tier, where surviving-
    # junk DP is the dominant cost).  The oracle keeps the unthresholded
    # form as the independent derivation.
    lev = F.expr(
        "levenshtein(ta, tb, cast(floor("
        f"{_LEV_REL_THRESHOLD} * greatest(length(ta), length(tb))"
        ") as int))"
    )
    rel = F.col("lev") * 1.0 / F.greatest(F.length("ta"), F.length("tb"))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("lev", lev.cast("int"))
        .filter(F.col("lev") >= 0)
        .select(
            "doc_a",
            "doc_b",
            "lev",
            F.round(rel, 6).alias("rel"),
        )
    )


@register(
    "minhash_error_report",
    "WITH "
    + ",".join([_TOKENS_CTE, _SHINGLES_CTE, _SH_HASH_CTE, _MINHASH_CTE, _BANDS_CTE])
    + f"""
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         SUM(CASE WHEN ma.mh = mb.mh THEN 1.0 ELSE 0.0 END) / {N_PERM} AS est_j
  FROM cand c
  JOIN minhash ma ON ma.doc_id = c.doc_a
  JOIN minhash mb ON mb.doc_id = c.doc_b AND mb.p = ma.p
  GROUP BY 1, 2
),
pair_common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
doc_n AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id)
SELECT e.doc_a, e.doc_b,
       ROUND(e.est_j, 6) AS est_jaccard,
       ROUND(COALESCE(pc.common, 0) * 1.0
             / (na.n + nb.n - COALESCE(pc.common, 0)), 6) AS exact_jaccard,
       ROUND(ABS(e.est_j - COALESCE(pc.common, 0) * 1.0
                 / (na.n + nb.n - COALESCE(pc.common, 0))), 6) AS abs_err
FROM est e
LEFT JOIN pair_common pc ON e.doc_a = pc.doc_a AND e.doc_b = pc.doc_b
JOIN doc_n na ON e.doc_a = na.doc_id
JOIN doc_n nb ON e.doc_b = nb.doc_id
""",
)
def minhash_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy self-audit for the MinHash family: every LSH
    candidate pair's {N_PERM}-perm agreement ESTIMATE side-by-side
    with its EXACT shingle Jaccard and the absolute error — the
    dedup-index counterpart of ``ann_recall_report`` (an index you
    cannot audit in production is an index you cannot trust; this
    registers the audit as an oracle-checked query instead of leaving
    it to offline analysis).  Unlike ``dedup_ngram_jaccard``, the
    exact side here is NOT thresholded: the audit needs the true value
    for every candidate, including false positives whose exact Jaccard
    is far below the cut.

    Scale shape: both sides are the already-registered plans (the
    single-subtree minhash build; the shingle inverted-index join
    restricted to co-occurring pairs); this report adds one left join
    of candidate-sized tables on the pair key plus two |docs|-row
    count joins.  The estimate n/{N_PERM} is an exact binary fraction
    and common/union are integers, so every emitted value is one
    bit-deterministic division, 6dp-rounded at the output boundary
    only."""
    mh = minhash_df(spark, sf_dir)
    bands = lsh_bands_df(mh)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ma, mb = mh.alias("ma"), mh.alias("mb")
    est = (
        cand.join(ma, F.col("doc_a") == F.col("ma.doc_id"))
        .join(
            mb,
            (F.col("doc_b") == F.col("mb.doc_id"))
            & (F.col("mb.p") == F.col("ma.p")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            (
                F.sum(
                    F.when(F.col("ma.mh") == F.col("mb.mh"), 1.0).otherwise(0.0)
                )
                / N_PERM
            ).alias("est_j")
        )
    )
    sh = shingles_df(spark, sf_dir)
    sa, sb = sh.alias("sa"), sh.alias("sb")
    pair_common = (
        sa.join(
            sb,
            (F.col("sa.sh") == F.col("sb.sh"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    doc_n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    common = F.coalesce(F.col("common"), F.lit(0))
    exact = common * 1.0 / (F.col("na.n") + F.col("nb.n") - common)
    return (
        est.join(pair_common, ["doc_a", "doc_b"], "left")
        .join(doc_n.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(doc_n.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round("est_j", 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(F.col("est_j") - exact), 6).alias("abs_err"),
        )
    )


@register(
    "dup_rate_by_source",
    _PAIRS_SQL
    + """
, sp AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b,
         COUNT(*) AS n_pairs
  FROM pairs p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id
  GROUP BY 1, 2
),
sn AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source)
SELECT sp.source_a, sp.source_b, sp.n_pairs,
       na.n AS n_docs_a, nb.n AS n_docs_b,
       ROUND(sp.n_pairs * 1000000.0
             / (CASE WHEN sp.source_a = sp.source_b
                     THEN na.n * (na.n - 1) / 2
                     ELSE na.n * nb.n END), 6) AS dup_ppm
FROM sp
JOIN sn na ON sp.source_a = na.source
JOIN sn nb ON sp.source_b = nb.source
""",
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO duplicates into WHOM: the MinHash-LSH near-dup pair table
    rolled up to (source, source) cells, normalized by the number of
    possible cross-pairs (parts-per-million) — the provenance audit a
    curation team reads to find mirror sites, syndication feeds, and
    self-duplicating crawls before deciding which SOURCE to drop
    (doc-level dedup treats each pair in isolation; the source matrix
    is where systemic duplication shows).  Diagonal cells are
    within-source rates over C(n,2); off-diagonal over n_a*n_b.

    Scale shape: the pair table is the already-registered LSH band
    join (linear shuffle, pinned shuffle-hash); attaching sources is
    two hash joins on the doc_id key of the PAIR-sized table (never
    corpus x corpus); the rollup output is bounded by |S|^2 cells and
    the per-source counts broadcast.  Only sparse cells materialize —
    pairs are the evidence; a zero cell carries no audit signal."""
    mh = minhash_df(spark, sf_dir)
    bands = lsh_bands_df(mh)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    da = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    sp = (
        # plain hash joins: the doc_id -> source map is CORPUS-sized
        # (never broadcast); the pair table is the small side here
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    sn = src.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    na = sn.select(F.col("source").alias("source_a"), F.col("n").alias("n_docs_a"))
    nb = sn.select(F.col("source").alias("source_b"), F.col("n").alias("n_docs_b"))
    diag = F.col("source_a") == F.col("source_b")
    denom = F.when(
        diag, F.col("n_docs_a") * (F.col("n_docs_a") - 1) / 2
    ).otherwise(F.col("n_docs_a") * F.col("n_docs_b"))
    return (
        sp.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            "n_docs_a",
            "n_docs_b",
            F.round(F.col("n_pairs") * 1000000.0 / denom, 6).alias("dup_ppm"),
        )
    )


@register(
    "dedup_keep_best",
    _PAIRS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + """
, edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT s AS node, d AS r FROM edges
  UNION
  SELECT reach.node, e.d FROM reach JOIN edges e ON reach.r = e.s
),
comp AS (
  SELECT node AS doc_id, LEAST(node, MIN(r)) AS component
  FROM reach GROUP BY node
),
ranked AS (
  SELECT c.doc_id, c.component,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.doc_id) AS rk
  FROM comp c JOIN documents d USING (doc_id)
),
sizes AS (SELECT component, COUNT(*) AS n_dups FROM comp GROUP BY 1),
surv AS (SELECT component, doc_id FROM ranked WHERE rk = 1)
SELECT d.doc_id, COALESCE(z.n_dups, 1) AS n_dups, d.n_chars
FROM documents d
LEFT JOIN surv ON d.doc_id = surv.doc_id
LEFT JOIN sizes z ON surv.component = z.component
WHERE d.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rk > 1)
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: every near-dup cluster keeps
    its LONGEST member (n_chars, doc_id tiebreak) instead of
    ``dedup_keep_canonical``'s min-id rule — the policy production
    pipelines actually run (among near-duplicates, the longest copy is
    usually the un-truncated original; min-id is an arbitrary
    accident of crawl order).  Same cluster resolution
    (:func:`dedup_components`), different keep rule; output contract
    matches keep_canonical so the two policies are directly diffable.

    100 TB shape: identical to keep_canonical plus ONE window over the
    component table — which is proportional to DUPLICATED docs only,
    partitioned by component (bounded groups, no skew: a dup cluster's
    size is bounded by how many copies of one document exist).  The
    deterministic (n_chars DESC, doc_id) order makes the survivor
    bit-stable under retries in both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    comp = dedup_components(spark, sf_dir)
    ranked = comp.join(docs, "doc_id").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("component").orderBy(
                F.col("n_chars").desc(), "doc_id"
            )
        ),
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n_dups"))
    drops = ranked.filter(F.col("rk") > 1).select("doc_id")
    surv = ranked.filter(F.col("rk") == 1).select("doc_id", "component")
    return (
        docs.join(drops, "doc_id", "left_anti")
        .join(surv, "doc_id", "left")
        .join(sizes, "component", "left")
        .select(
            "doc_id",
            F.coalesce("n_dups", F.lit(1)).alias("n_dups"),
            "n_chars",
        )
    )
