"""Event-funnel / cohort / sketch analytics over the ``events`` and
``documents`` tables (north-star extensions — no reference semantics to
preserve; SURVEY.md §2 Part B marks these *extension, not in
reference*).

Operators a production analytics deployment of this engine would run
daily at the 100 TB tier (plus ``user_path_transitions`` — the Markov
transition matrix over per-user event paths — and ``text_normalize``,
the zero-exchange canonicalization projection that feeds exact-dedup
hashing):

* ``funnel_events`` — ordered multi-stage conversion funnel
  (view -> click -> purchase).  The sequential dependency (stage k's
  earliest timestamp must follow stage k-1's) is computed with window
  aggregates all PARTITIONED BY user_id: one hash exchange on the user
  key, three WindowExec passes over it, no global sort anywhere.  The
  per-user table then reuses the same partitioning for its groupBy.
* ``retention_cohorts`` — classic cohort retention: users bucketed by
  first-activity week, activity counted per (cohort_week,
  week_offset).  Two aggregations plus one user-key join that reuses
  the aggregation's exchange.
* ``heavy_hitters_cms`` — Count-Min-Sketch frequency estimation of
  corpus tokens.  The sketch build is the 100 TB heart: ``D x W``
  counters via one map-side-combinable groupBy — sketch size is
  CONSTANT in corpus size, so the shuffle carries at most
  ``D*W`` pre-combined rows per map task regardless of input scale.
  Estimation joins candidate tokens against the broadcast sketch.
  Hashes are portable md5 arithmetic (tsengine/operators/dedup.py
  ``_md5_int``), so the DuckDB oracle replays the sketch exactly.
* ``duplicate_spans`` — cross-document exact substring duplication
  profile at token n-gram granularity (the relational form of the
  suffix-array substring dedup from "Deduplicating Training Data Makes
  Language Models Better", Lee et al. 2022): every k-token span is
  hashed, spans whose hash occurs in >= 2 distinct documents are
  flagged, and each document reports its duplicated-span fraction.
  Three key-partitioned shuffles (span-hash agg, span-hash join, doc
  agg), all map-side combinable, no broadcast of anything
  corpus-sized.  Complements ``repetition_score`` (intra-document
  grams) and ``dedup_minhash_lsh`` (whole-document near-dup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tsengine.operators.dedup import _md5_int, _md5_int60
from tsengine.registry import register
from tsengine.sources.tables import load_table

# ---------------------------------------------------------------------------
# funnel
# ---------------------------------------------------------------------------

_STAGES = ("view", "click", "purchase")


@register(
    "funnel_events",
    """
WITH s1 AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM s1
),
s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM s2
),
per_user AS (
  SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
  FROM s3 GROUP BY user_id
),
tot AS (
  SELECT COUNT(t1) AS u1, COUNT(t2) AS u2, COUNT(t3) AS u3 FROM per_user
)
SELECT 'view' AS stage, CAST(u1 AS BIGINT) AS users,
       CASE WHEN u1 = 0 THEN 0.0 ELSE 1.0 END AS conversion FROM tot
UNION ALL
SELECT 'view>click', CAST(u2 AS BIGINT),
       ROUND(CASE WHEN u1 = 0 THEN 0.0 ELSE u2 * 1.0 / u1 END, 6) FROM tot
UNION ALL
SELECT 'view>click>purchase', CAST(u3 AS BIGINT),
       ROUND(CASE WHEN u1 = 0 THEN 0.0 ELSE u3 * 1.0 / u1 END, 6) FROM tot
""",
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: a user
    converts at stage k only via an event strictly AFTER their stage
    k-1 time.  t1/t2/t3 are window minima all partitioned by user_id
    (t_{k-1} is constant within the partition, so the chained
    dependency is still a single-pass window expression) — ONE
    exchange, then the per-user rollup reuses the same hash
    partitioning."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    df = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == _STAGES[0], F.col("ts"))).over(w)
    )
    df = df.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == _STAGES[1]) & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    df = df.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == _STAGES[2]) & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = df.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    tot = per_user.agg(
        F.count("t1").alias("u1"), F.count("t2").alias("u2"), F.count("t3").alias("u3")
    )
    return tot.select(
        F.expr(
            "stack(3, 'view', u1, 'view>click', u2, 'view>click>purchase', u3)"
        ).alias("stage", "users"),
        F.col("u1").alias("_u1"),
    ).select(
        "stage",
        F.col("users").cast("long").alias("users"),
        F.round(
            F.when(F.col("_u1") == 0, F.lit(0.0)).otherwise(
                F.col("users") * 1.0 / F.col("_u1")
            ),
            6,
        ).alias("conversion"),
    )


# ---------------------------------------------------------------------------
# retention cohorts
# ---------------------------------------------------------------------------


@register(
    "retention_cohorts",
    """
WITH first_seen AS (
  SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cw FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS wk FROM events
)
SELECT CAST(f.cw AS DATE) AS cohort_week,
       CAST(DATE_DIFF('day', f.cw, a.wk) // 7 AS INTEGER) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM activity a JOIN first_seen f USING (user_id)
GROUP BY 1, 2
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by the ISO week of
    their first event; n_users = users of that cohort active
    ``week_offset`` weeks later.

    ONE corpus-sized exchange: the per-user aggregation computes the
    cohort week AND the distinct active-week set (``collect_set`` —
    bounded by the calendar, not by event volume) in the same pass, so
    no separate distinct and no user-key join; the final rollup groups
    the tiny cohort x offset key space."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw"),
        F.collect_set(F.date_trunc("week", F.col("ts"))).alias("wks"),
    )
    j = per_user.select("cw", F.explode("wks").alias("wk"))
    return (
        j.groupBy(
            F.col("cw").cast("date").alias("cohort_week"),
            (F.datediff(F.col("wk").cast("date"), F.col("cw").cast("date")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 512  # buckets per row
_CMS_TOP = 20


@register(
    "heavy_hitters_cms",
    f"""
WITH tokens AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM documents
),
cells AS (
  SELECT d.d AS d,
         ('0x' || substr(md5('cms' || d.d || ':' || tok), 1, 8))::BIGINT
           % {_CMS_W} AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM tokens CROSS JOIN (VALUES (0), (1), (2), (3)) d(d)
  GROUP BY 1, 2
),
cand AS (SELECT DISTINCT tok FROM tokens),
est AS (
  SELECT cand.tok,
         MIN(cells.c) AS est
  FROM cand
  CROSS JOIN (VALUES (0), (1), (2), (3)) d(d)
  JOIN cells ON cells.d = d.d
   AND cells.b = ('0x' || substr(md5('cms' || d.d || ':' || cand.tok), 1, 8))::BIGINT
                 % {_CMS_W}
  GROUP BY cand.tok
),
exact AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_count FROM tokens GROUP BY tok)
SELECT est.tok, CAST(est.est AS BIGINT) AS est_count, exact.true_count
FROM est JOIN exact USING (tok)
ORDER BY est.est DESC, est.tok
LIMIT {_CMS_TOP}
""",
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch token frequencies: {_CMS_D} portable-md5 hash
    rows x {_CMS_W} buckets.  The sketch is built by ONE
    map-side-combinable groupBy whose key space is constant
    (D*W = 2048 cells) regardless of corpus size — the canonical
    bounded-state frequency sketch for 100 TB streams.  Estimates
    (min over the D rows, always >= the true count) are produced by
    joining candidate tokens against the BROADCAST sketch; the exact
    count rides along to expose the sketch's overestimate.  Top-20 by
    estimate is a TakeOrdered (orderBy+limit), not a global window."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok")
    )
    rows = spark.range(_CMS_D).select(F.col("id").cast("int").alias("d"))
    # ONE pass over the token stream: the per-token counts (needed for
    # the verification column anyway) double as the map-side-combined
    # input to the sketch — summing counts grouped by (d, bucket) is
    # identical to counting raw tokens per cell, at |vocab| rather
    # than |stream| rows past the first aggregation
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_count"))
    cells = (
        exact.crossJoin(F.broadcast(rows))
        .select(
            "d",
            (
                _md5_int(F.concat(F.lit("cms"), F.col("d"), F.lit(":"), F.col("tok")))
                % _CMS_W
            ).alias("b"),
            "true_count",
        )
        .groupBy("d", "b")
        .agg(F.sum("true_count").alias("c"))
    )
    est = (
        exact.crossJoin(F.broadcast(rows))
        .select(
            "tok",
            "true_count",
            "d",
            (
                _md5_int(F.concat(F.lit("cms"), F.col("d"), F.lit(":"), F.col("tok")))
                % _CMS_W
            ).alias("b"),
        )
        .join(F.broadcast(cells), ["d", "b"])
        .groupBy("tok", "true_count")
        .agg(F.min("c").alias("est_count"))
    )
    return (
        est.select("tok", "est_count", "true_count")
        .orderBy(F.col("est_count").desc(), "tok")
        .limit(_CMS_TOP)
    )


# keep the docstring literal (f-string docstrings are not allowed on
# decorated defs in older linters) in sync with the constants
heavy_hitters_cms.__doc__ = heavy_hitters_cms.__doc__.replace(
    "{_CMS_D}", str(_CMS_D)
).replace("{_CMS_W}", str(_CMS_W))


# ---------------------------------------------------------------------------
# cross-document duplicated spans
# ---------------------------------------------------------------------------

_SPAN_K = 5  # tokens per span


@register(
    "duplicate_spans",
    f"""
WITH tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         unnest(range(0, len(string_split(text, ' ')))) AS i
  FROM documents
),
spans AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(tok || ' ' || t1 || ' ' || t2 || ' ' || t3
                             || ' ' || t4), 1, 15))::BIGINT AS h
  FROM (
    SELECT doc_id, i, tok,
           LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY i) AS t1,
           LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY i) AS t2,
           LEAD(tok, 3) OVER (PARTITION BY doc_id ORDER BY i) AS t3,
           LEAD(tok, 4) OVER (PARTITION BY doc_id ORDER BY i) AS t4
    FROM tokens
  )
  WHERE t4 IS NOT NULL
),
freq AS (
  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY h
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
       ROUND(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS dup_frac
FROM spans s JOIN freq f USING (h)
GROUP BY s.doc_id
""",
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact substring duplication at {_SPAN_K}-token
    span granularity (relational form of suffix-array substring dedup,
    Lee et al. 2022): a span is duplicated iff its 60-bit portable md5
    hash occurs in >= 2 DISTINCT documents; each doc reports its
    duplicated-span count and fraction.  (32-bit hashing showed
    birthday-collision false positives from ~700k spans — caught by
    the hot-span skew stress test; 60 bits holds the expectation
    below 1 out to ~10^9 spans per corpus.)

    Scale shape (r14 single-subtree rewrite, guide §2.4/§7.2): the r6
    agg + LEFT-SEMI form referenced the span stream TWICE (once to
    find duplicated hashes, once to count them per doc), and the plan
    duplicated the whole scan -> tokenize -> 5-gram -> md5 subtree —
    plus a third text scan for the per-doc span totals (3 parquet
    scans, 2 full gram+md5 passes; noop 1.95s at sf0.1).  Everything
    folds into ONE linear pipeline: span construction stays map-side;
    "occurs in >= 2 distinct docs" is ``MIN(doc_id) <> MAX(doc_id)``
    as a WINDOW over the span-hash partition (no second span pass, no
    join — every span row keeps its dup flag); per-doc totals fall out
    of the same stream because a doc's span count IS
    ``size(toks) - K + 1``.  One scan, one span-sized exchange (16-byte
    (doc_id, h) rows), one doc-sized rollup, zero joins (noop 1.95s ->
    0.91s, 2.1x).  Hot-span skew costs MORE than in the old semi-join
    form: that groupBy(h) was partially aggregated map-side, so a hot
    hash crossed the exchange as one row per map task, while the
    WindowExec form shuffles and buffers every row of a hot hash in one
    partition frame (spilling at scale).  tests/test_skew.py pins
    exactness under skew, not scale."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    toks = F.col("toks")
    base = docs.filter(F.size(toks) >= _SPAN_K).select("doc_id", "toks")
    gram = F.transform(
        F.sequence(F.lit(0), F.size(toks) - _SPAN_K),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(1, _SPAN_K + 1)]
        ),
    )
    spans = base.select("doc_id", F.explode(gram).alias("g")).select(
        "doc_id", _md5_int60(F.col("g")).alias("h")
    )
    wh = Window.partitionBy("h")
    marked = spans.select(
        "doc_id",
        (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).alias("dup"),
    )
    counted = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("dup_spans"),
    )
    return counted.select(
        "doc_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("dup_spans").cast("long").alias("dup_spans"),
        F.round(F.col("dup_spans") * 1.0 / F.col("n_spans"), 6).alias("dup_frac"),
    )


duplicate_spans.__doc__ = duplicate_spans.__doc__.replace("{_SPAN_K}", str(_SPAN_K))


# ---------------------------------------------------------------------------
# clickstream path transitions
# ---------------------------------------------------------------------------


@register(
    "user_path_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY event_type), 6)
         AS p
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
)
def user_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event paths:
    for each consecutive (event, next-event) pair within a user's
    time-ordered stream, the count and the row-normalized transition
    probability.  ONE corpus-sized exchange (the per-user lead window);
    the transition rollup and its |types|^2-row normalizer window are
    tiny.  The classic clickstream/session-analysis query."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(wu)).filter(
        F.col("next_type").isNotNull()
    )
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wnorm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wnorm), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# corpus text normalization
# ---------------------------------------------------------------------------


@register(
    "text_normalize",
    """
SELECT doc_id,
       md5(norm) AS norm_hash,
       CAST(len(norm) AS BIGINT) AS norm_chars,
       CAST(len(string_split(norm, ' ')) AS BIGINT) AS norm_tokens
FROM (
  SELECT doc_id,
         array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ') AS norm
  FROM documents
)
""",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — the projection stage every
    exact-dedup / fingerprint pipeline runs first: lowercase, keep
    [a-z0-9]+ runs joined by single spaces (= strip punctuation +
    collapse whitespace + trim); emits the normalized-text
    md5 (the exact-dedup key) plus char/token counts.  Pure map-side
    codegen (zero exchanges at any corpus size); the normalized form
    feeds `dedup_exact`-style hash grouping without the punctuation /
    casing false-negatives of raw-text keys."""
    docs = load_table(spark, sf_dir, "documents")
    # extract-all-runs instead of negated-class regexp_replace: the
    # replace form with "[^a-z0-9 ]" measured ~50x slower per row in
    # this Spark build (pathological match loop); extracting [a-z0-9]+
    # runs and joining with single spaces produces the IDENTICAL
    # normalized string (strip + collapse + trim in one pass) at
    # regexp_extract_all speed (100x-tier probe: 15.2s -> sub-second).
    norm = F.concat_ws(
        " ", F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length(norm).cast("long").alias("norm_chars"),
        F.size(F.split(norm, " ")).cast("long").alias("norm_tokens"),
    )


# ---------------------------------------------------------------------------
# top session paths (user journeys)
# ---------------------------------------------------------------------------

_PATH_GAP = 1800  # 30-min inactivity gap, same as session_window_agg
_PATH_TOP = 20


@register(
    "session_paths",
    f"""
WITH ordered AS (
  SELECT user_id, event_id, event_type,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
         LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_es
  FROM events
),
sessioned AS (
  SELECT *, SUM(CASE WHEN prev_es IS NULL OR es - prev_es > {_PATH_GAP}
                     THEN 1 ELSE 0 END) OVER
    (PARTITION BY user_id ORDER BY es, event_id
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY es, event_id) AS path
  FROM sessioned GROUP BY user_id, session_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {_PATH_TOP}
""",
)
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: sessionize each user's stream
    (gaps-and-islands, 30-min gap — the `session_window_agg`
    machinery), concatenate the session's event types in time order
    into a path string, and count the most common paths.

    Scale shape: the sessionizing windows and the per-session ordered
    collect all cluster on user_id — ONE corpus-sized exchange (hash
    partitioning on user_id satisfies the (user, session) grouping,
    so the path agg reuses it); the path-frequency rollup and top-k
    (TakeOrdered, no global window) run on the tiny path key space.
    Per-session state is bounded by session length."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
    )
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.withColumn("prev_es", F.lag("es").over(w_lag)).withColumn(
        "is_start",
        F.when(
            F.col("prev_es").isNull() | (F.col("es") - F.col("prev_es") > _PATH_GAP),
            1,
        ).otherwise(0),
    )
    sessioned = marked.withColumn("session_id", F.sum("is_start").over(w_cum))
    paths = sessioned.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("es", "event_id", "event_type"))
                ),
                lambda s: s.getField("event_type"),
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_PATH_TOP)
    )


# ---------------------------------------------------------------------------
# composed corpus-construction pipeline v2 (the new-family showcase)
# ---------------------------------------------------------------------------

_V2_MIN_TOKENS = 10
_V2_MAX_DUP = 0.5
_V2_KEEP_PCT = 80
# pipeline_corpus_v2 drops the join back to the survivors: only sound
# while every doc the token floor keeps also yields >= 1 span
assert _V2_MIN_TOKENS > _SPAN_K


@register(
    "pipeline_corpus_v2",
    f"""
WITH base AS (
  SELECT doc_id, source,
         array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ') AS norm
  FROM documents
),
enriched AS (
  SELECT doc_id, source, norm, md5(norm) AS nh,
         len(string_split(norm, ' ')) AS n_tokens
  FROM base
),
canon AS (SELECT nh, MIN(doc_id) AS doc_id FROM enriched GROUP BY nh),
surv AS (
  SELECT e.* FROM enriched e JOIN canon c ON e.nh = c.nh AND e.doc_id = c.doc_id
),
tokens AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok,
         unnest(range(0, len(string_split(norm, ' ')))) AS i
  FROM surv WHERE n_tokens >= {_SPAN_K}
),
spans AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok || ' ' || t1 || ' ' || t2 || ' ' || t3
                             || ' ' || t4), 1, 15))::BIGINT AS h
  FROM (
    SELECT doc_id, tok,
           LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY i) AS t1,
           LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY i) AS t2,
           LEAD(tok, 3) OVER (PARTITION BY doc_id ORDER BY i) AS t3,
           LEAD(tok, 4) OVER (PARTITION BY doc_id ORDER BY i) AS t4
    FROM tokens
  ) WHERE t4 IS NOT NULL
),
dup_h AS (
  SELECT h FROM (SELECT h, MIN(doc_id) lo, MAX(doc_id) hi FROM spans GROUP BY h)
  WHERE lo <> hi
),
dupc AS (
  SELECT s.doc_id, COUNT(*) AS dup_spans
  FROM spans s WHERE s.h IN (SELECT h FROM dup_h) GROUP BY s.doc_id
),
scored AS (
  SELECT surv.doc_id, surv.source, surv.n_tokens,
         COALESCE(dupc.dup_spans, 0) * 1.0
           / GREATEST(surv.n_tokens - {_SPAN_K} + 1, 1) AS dup_frac
  FROM surv LEFT JOIN dupc ON surv.doc_id = dupc.doc_id
),
kept AS (
  SELECT * FROM scored
  WHERE dup_frac <= {_V2_MAX_DUP} AND n_tokens >= {_V2_MIN_TOKENS}
    AND ('0x' || substr(md5('v2smpl:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        % 100 < {_V2_KEEP_PCT}
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(n_tokens), 6) AS avg_tokens,
       ROUND(AVG(dup_frac), 6) AS avg_dup_frac
FROM kept GROUP BY source
""",
)
def pipeline_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 corpus-construction DAG, composed as ONE Catalyst
    plan from the new-family stages: canonical text normalization
    (`text_normalize`) -> exact dedup on the normalized hash keeping
    the lowest doc_id (`dedup_keep_canonical` semantics) ->
    cross-document duplicated-span scoring over the survivors
    (`duplicate_spans` machinery: min/max-agg + left-semi join against
    duplicated hashes) -> quality gate (token floor + span-dup-fraction
    ceiling) -> deterministic md5 sample -> per-source corpus stats.

    Scale shape (r14 single-subtree rewrite, guide §2.3/§2.4/§8): the
    r4 form referenced `surv` (normalize -> canon agg -> canonical
    join) three times and the span stream twice, and Catalyst
    duplicated every one of them — SIX parquet scans, three regexp
    normalization passes, two gram+md5 passes (noop 10.8s at sf0.1).
    Restructured so each expensive subtree exists once: the canonical
    survivor per normalized hash is ONE ``min_by(struct(doc_id,
    source, n_tokens, norm), doc_id)`` aggregation (keep-lowest-doc_id
    semantics unchanged; map-side partials collapse same-partition
    duplicates before the exchange, and the normalized text crosses
    exactly one exchange instead of feeding a (nh, doc_id) join);
    span dup-scoring is the `duplicate_spans` r14 window form (dup
    flag = MIN<>MAX over the span-hash partition — no dup_h semi
    join, no second span pass); and the survivor metadata rides WITH
    the span rows (a few bytes each) so the old surv⋈dupc meta join —
    which forced a SECOND computation of the whole canon subtree — is
    gone entirely: every doc the token floor can keep has spans.  The
    token array is materialized once per row before the gram lambda
    (the old inline split re-split the document per span — the
    dominant cost).  One scan, one regexp pass, one gram+md5 pass,
    zero joins (noop 10.77s -> 1.83s, 5.9x)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.concat_ws(
        " ", F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    )
    enriched = docs.select(
        "doc_id", "source", norm.alias("norm")
    ).select(
        "doc_id",
        "source",
        "norm",
        F.md5("norm").alias("nh"),
        F.size(F.split("norm", " ")).alias("n_tokens"),
    )
    surv = (
        enriched.groupBy("nh")
        .agg(
            F.min_by(
                F.struct("doc_id", "source", "n_tokens", "norm"), F.col("doc_id")
            ).alias("s")
        )
        .select("s.doc_id", "s.source", "s.n_tokens", "s.norm")
    )

    # materialize the token array ONCE per row before the gram lambda:
    # an inline F.split here would re-split the whole document for
    # every element_at inside the transform — 5 splits per span,
    # O(n_tokens * doc_len) per doc (measured 5.7s -> 1.0s at sf0.1)
    toks = F.col("toks")
    gram = F.transform(
        F.sequence(F.lit(0), F.size(toks) - _SPAN_K),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(1, _SPAN_K + 1)]
        ),
    )
    spans = (
        surv.filter(F.col("n_tokens") >= _SPAN_K)
        .withColumn("toks", F.split("norm", " "))
        .select(
            "doc_id", "source", "n_tokens", F.explode(gram).alias("g")
        )
        .select("doc_id", "source", "n_tokens", _md5_int60(F.col("g")).alias("h"))
    )
    wh = Window.partitionBy("h")
    # meta travels WITH the span rows (a few bytes each), so no join
    # back to surv is needed: every doc the quality gate can keep has
    # n_tokens >= _V2_MIN_TOKENS > _SPAN_K and therefore appears in the
    # span stream; survivors below _SPAN_K tokens are dropped by the
    # token floor either way (oracle-identical).
    scored = (
        spans.select(
            "doc_id",
            "source",
            "n_tokens",
            (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).alias("dup"),
        )
        .groupBy("doc_id", "source", "n_tokens")
        .agg(F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("dup_spans"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            (
                F.col("dup_spans")
                * 1.0
                / F.greatest(F.col("n_tokens") - _SPAN_K + 1, F.lit(1))
            ).alias("dup_frac"),
        )
    )
    kept = scored.filter(
        (F.col("dup_frac") <= _V2_MAX_DUP)
        & (F.col("n_tokens") >= _V2_MIN_TOKENS)
        & (
            _md5_int(F.concat(F.lit("v2smpl:"), F.col("doc_id").cast("string")))
            % 100
            < _V2_KEEP_PCT
        )
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.round(F.avg("dup_frac"), 6).alias("avg_dup_frac"),
    )


@register(
    "cumulative_distinct_users",
    """
WITH d AS (
  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day, user_id FROM events
),
active AS (
  SELECT day, COUNT(DISTINCT user_id) AS n_active FROM d GROUP BY day
),
fs AS (SELECT user_id, MIN(day) AS fday FROM d GROUP BY user_id),
nw AS (SELECT fday, COUNT(*) AS n_new FROM fs GROUP BY fday)
SELECT a.day, a.n_active,
       COALESCE(nw.n_new, 0) AS n_new,
       CAST(SUM(COALESCE(nw.n_new, 0)) OVER
         (ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS BIGINT) AS cum_users
FROM active a LEFT JOIN nw ON nw.fday = a.day
""",
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active / new / cumulative-reach user counts — the
    top-of-dashboard metric trio.  The naive cumulative COUNT(DISTINCT
    user) over an expanding window is O(days x users) state and
    funnels through one task; the exact scalable identity instead:
    a user contributes to every day >= their FIRST-SEEN day, so
    cum(d) = Σ_{d' <= d} new(d').

    Scale shape: per-day distinct actives (two-phase partial agg on
    (day, user)), per-user min-day (one shuffle on user), per-day
    new-user counts (bounded by #days), then the cumulative sum as a
    triangular BROADCAST self-join over the tiny per-day table — no
    partition-less window, nothing proportional to users crosses the
    driver.  New-user days are a subset of active days (a first event
    is activity), so the left join loses nothing."""
    day = F.floor(F.col("ts").cast("long") / F.lit(86400)).cast("long")
    d = load_table(spark, sf_dir, "events").select(
        day.alias("day"), "user_id"
    )
    active = d.groupBy("day").agg(F.count_distinct("user_id").alias("n_active"))
    fs = d.groupBy("user_id").agg(F.min("day").alias("fday"))
    nw = fs.groupBy("fday").agg(F.count(F.lit(1)).alias("n_new"))
    per_day = (
        active.join(F.broadcast(nw), active.day == nw.fday, "left")
        .select("day", "n_active", F.coalesce("n_new", F.lit(0)).alias("n_new"))
    )
    lo = per_day.select(F.col("day").alias("_d"), F.col("n_new").alias("_n"))
    return (
        per_day.join(F.broadcast(lo), F.col("_d") <= F.col("day"))
        .groupBy("day", "n_active", "n_new")
        .agg(F.sum("_n").alias("cum_users"))
    )


@register(
    "attribution_last_touch",
    """
WITH touched AS (
  SELECT user_id, event_type, value, ts, event_id,
         LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_event
  FROM events
)
SELECT t.touch_event % 7 AS channel,
       COUNT(*) AS n_conversions,
       ROUND(SUM(t.value), 6) AS attributed_value
FROM touched t
WHERE t.event_type = 'purchase' AND t.touch_event IS NOT NULL
GROUP BY 1
""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to
    the user's most recent STRICTLY-PRECEDING view touchpoint
    (``last(..., ignoreNulls)`` over a user-partitioned frame ending at
    1 PRECEDING — the same running-carry idiom as ``asof_join``), then
    conversions and value roll up per channel (touch id mod 7 stands in
    for the campaign-channel lookup a real pipeline would broadcast-join
    here).  One shuffle on user_id for the window, one map-side
    combinable agg on the tiny channel key — the standard marketing /
    data-pipeline attribution shape at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
    ).over(w)
    touched = ev.withColumn("touch_event", touch)
    return (
        touched.filter(
            (F.col("event_type") == "purchase") & F.col("touch_event").isNotNull()
        )
        .groupBy((F.col("touch_event") % 7).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("value"), 6).alias("attributed_value"),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------

# monetary is quantized to this many cents per scoring unit so the
# score histogram stays value-DOMAIN-bounded (the quantile_bucketize
# discipline): 10_000 cents = $100 buckets
_RFM_M_QUANT = 10_000
_RFM_SEGMENTS = (
    # (r_floor, f_floor, label) evaluated in order; first match wins
    (4, 4, "champions"),
    (1, 4, "loyal_at_risk"),
    (4, 1, "new_or_promising"),
)


def _rank_boundaries(hist: dict[int, int], parts: int = 5) -> list[int]:
    """Quintile boundary VALUES by integer rank selection: the value at
    1-based rank ``(k*n + parts-1) // parts`` of the sorted multiset,
    k = 1..parts-1.  All-integer arithmetic — unlike ``ceil(p*n)`` with
    p = 0.2 (not an exact binary fraction: 0.2*15 = 3.0000000000000004
    in doubles, ceil -> 4 vs the exact 3), the rank itself cannot
    diverge between engines, and selection has no arithmetic at all
    (the mlprep ``_disc`` lesson extended to non-binary p)."""
    n = sum(hist.values())
    if n == 0:  # empty input would otherwise surface as a bare StopIteration
        raise ValueError("_rank_boundaries: empty histogram (no input rows)")
    out, cum, it = [], 0, iter(sorted(hist))
    v = None
    for k in range(1, parts):
        rank = (k * n + parts - 1) // parts
        while cum < rank:
            v = next(it)
            cum += hist[v]
        out.append(v)
    return out


def _rfm_score(col, bounds: list[int]):
    """1..5 quintile via closed <= comparisons against literal
    boundaries (ties share a score deterministically in both engines)."""
    s = F.lit(5)
    for q in range(len(bounds), 0, -1):
        s = F.when(col <= bounds[q - 1], q).otherwise(s)
    return s


_RFM_BOUNDS_CTE = """
n AS (SELECT COUNT(*) AS c FROM cust),
rb AS (SELECT MAX(CASE WHEN r = (1*c+4)//5 THEN v END) AS b1,
              MAX(CASE WHEN r = (2*c+4)//5 THEN v END) AS b2,
              MAX(CASE WHEN r = (3*c+4)//5 THEN v END) AS b3,
              MAX(CASE WHEN r = (4*c+4)//5 THEN v END) AS b4
       FROM (SELECT recency_days AS v,
                    ROW_NUMBER() OVER (ORDER BY recency_days) AS r FROM cust)
       CROSS JOIN n),
fb AS (SELECT MAX(CASE WHEN r = (1*c+4)//5 THEN v END) AS b1,
              MAX(CASE WHEN r = (2*c+4)//5 THEN v END) AS b2,
              MAX(CASE WHEN r = (3*c+4)//5 THEN v END) AS b3,
              MAX(CASE WHEN r = (4*c+4)//5 THEN v END) AS b4
       FROM (SELECT frequency AS v,
                    ROW_NUMBER() OVER (ORDER BY frequency) AS r FROM cust)
       CROSS JOIN n),
mb AS (SELECT MAX(CASE WHEN r = (1*c+4)//5 THEN v END) AS b1,
              MAX(CASE WHEN r = (2*c+4)//5 THEN v END) AS b2,
              MAX(CASE WHEN r = (3*c+4)//5 THEN v END) AS b3,
              MAX(CASE WHEN r = (4*c+4)//5 THEN v END) AS b4
       FROM (SELECT m_q AS v, ROW_NUMBER() OVER (ORDER BY m_q) AS r FROM cust)
       CROSS JOIN n)
"""


@register(
    "rfm_segments",
    f"""
WITH ref AS (SELECT MAX(o_orderdate) AS rd FROM orders),
cust AS (
  SELECT o_custkey,
         date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                   CAST((SELECT rd FROM ref) AS DATE)) AS recency_days,
         COUNT(*) AS frequency,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS monetary_c,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             // {_RFM_M_QUANT} AS m_q
  FROM orders GROUP BY o_custkey
),
{_RFM_BOUNDS_CTE}
SELECT o_custkey, recency_days, frequency,
       monetary_c / 100.0 AS monetary,
       6 - (CASE WHEN recency_days <= rb.b1 THEN 1
                 WHEN recency_days <= rb.b2 THEN 2
                 WHEN recency_days <= rb.b3 THEN 3
                 WHEN recency_days <= rb.b4 THEN 4 ELSE 5 END) AS r_score,
       CASE WHEN frequency <= fb.b1 THEN 1 WHEN frequency <= fb.b2 THEN 2
            WHEN frequency <= fb.b3 THEN 3 WHEN frequency <= fb.b4 THEN 4
            ELSE 5 END AS f_score,
       CASE WHEN m_q <= mb.b1 THEN 1 WHEN m_q <= mb.b2 THEN 2
            WHEN m_q <= mb.b3 THEN 3 WHEN m_q <= mb.b4 THEN 4
            ELSE 5 END AS m_score,
       CASE WHEN 6 - (CASE WHEN recency_days <= rb.b1 THEN 1
                           WHEN recency_days <= rb.b2 THEN 2
                           WHEN recency_days <= rb.b3 THEN 3
                           WHEN recency_days <= rb.b4 THEN 4 ELSE 5 END) >= 4
                 AND (CASE WHEN frequency <= fb.b1 THEN 1
                           WHEN frequency <= fb.b2 THEN 2
                           WHEN frequency <= fb.b3 THEN 3
                           WHEN frequency <= fb.b4 THEN 4 ELSE 5 END) >= 4
            THEN 'champions'
            WHEN (CASE WHEN frequency <= fb.b1 THEN 1
                       WHEN frequency <= fb.b2 THEN 2
                       WHEN frequency <= fb.b3 THEN 3
                       WHEN frequency <= fb.b4 THEN 4 ELSE 5 END) >= 4
            THEN 'loyal_at_risk'
            WHEN 6 - (CASE WHEN recency_days <= rb.b1 THEN 1
                           WHEN recency_days <= rb.b2 THEN 2
                           WHEN recency_days <= rb.b3 THEN 3
                           WHEN recency_days <= rb.b4 THEN 4 ELSE 5 END) >= 4
            THEN 'new_or_promising'
            ELSE 'regular' END AS segment
FROM cust CROSS JOIN rb CROSS JOIN fb CROSS JOIN mb
""",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over ``orders``: per-customer recency
    (days since last order vs the table's max date), frequency (order
    count) and monetary (lifetime spend), each quintile-scored 1-5
    against DISCRETE rank-selected boundaries, plus a coarse segment
    label (champions / loyal-at-risk / new-or-promising / regular) —
    the classic marketing-analytics cut a warehouse team runs weekly.

    Determinism discipline: monetary sums INTEGER CENTS
    (``floor(price*100 + 0.5)`` is one bit-identical IEEE multiply+add
    per row, then exact integer addition — a double SUM would carry
    summation-order ulps into quintile boundaries); quintile ranks use
    ALL-INTEGER arithmetic ``(k*n+4)//5`` because p = 0.2 is not an
    exact binary fraction (0.2*15 -> 3.0000000000000004, ceil 4 vs
    exact 3 — the mlprep ``_disc`` exposure class at non-binary p);
    boundary assignment is closed ``<=`` against literal values both
    engines selected from the same multiset.

    Scale shape: ONE orders scan -> map-side-combinable per-customer
    agg (the only corpus-sized shuffle, on the natural o_custkey key);
    scoring boundaries come from three value-DOMAIN-bounded histograms
    of the |customers|-row table (recency <= date-range days, frequency
    small ints, monetary quantized to $100 units — the
    quantile_bucketize histogram discipline, never a partition-less
    global sort/window); scores apply as literal CASE chains inside
    codegen.  At 100 TB the cust table partitioning from the agg is
    reused by everything downstream."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    ref = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("rd"))
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(cents).alias("monetary_c"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("rd", "last_d").alias("recency_days"),
            "frequency",
            "monetary_c",
            # integer div, not double-divide-then-cast: exact like the
            # oracle's //, with no reliance on double rounding staying
            # clear of integer boundaries (r10 advice)
            F.expr(f"monetary_c div {_RFM_M_QUANT}").alias("m_q"),
        )
    )
    cust = cust.localCheckpoint(eager=True)  # reused 4x: scan once
    hists = {
        m: {int(r[m]): r["c"] for r in cust.groupBy(m).agg(F.count(F.lit(1)).alias("c")).collect()}
        for m in ("recency_days", "frequency", "m_q")
    }
    rb = _rank_boundaries(hists["recency_days"])
    fb = _rank_boundaries(hists["frequency"])
    mb = _rank_boundaries(hists["m_q"])
    r_score = F.lit(6) - _rfm_score(F.col("recency_days"), rb)
    f_score = _rfm_score(F.col("frequency"), fb)
    m_score = _rfm_score(F.col("m_q"), mb)
    seg = F.lit("regular")
    for r_floor, f_floor, label in reversed(_RFM_SEGMENTS):
        seg = F.when((r_score >= r_floor) & (f_score >= f_floor), label).otherwise(
            seg
        )
    return cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        (F.col("monetary_c") / 100.0).alias("monetary"),
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
        seg.alias("segment"),
    )
