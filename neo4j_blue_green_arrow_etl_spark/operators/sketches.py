"""Mergeable-sketch aggregations (Apache DataSketches via Spark built-ins).

At 100 TB exact ``COUNT(DISTINCT)`` is the classic scale cliff: it
forces a full shuffle of every distinct value. The sketch pattern
replaces it with fixed-size mergeable state: each partition builds a
bounded HLL sketch (map-side), sketches merge associatively across any
re-grouping level, and the estimate is read out at the end. The same
shape serves rollup hierarchies (hour -> day -> month) because the
UNION of sketches is itself a sketch — aggregate once, re-aggregate
forever without touching the raw data again.

``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate`` are
Spark built-ins (JVM DataSketches, SPARK-16484 lineage); nothing here
leaves whole-stage codegen.

Oracle note: with ``lgConfigK=14`` the sketch stays in sparse
(coupon-list) mode far beyond this table's per-day cardinality
(~140 distinct users/day at sf0.01; sparse holds to thousands), and
sparse-mode estimates are EXACT, so the DuckDB oracle can compare
against exact ``COUNT(DISTINCT)``. At real scale the estimate departs
from exact (~1.6% rse at lgK=14); tests/test_extensions.py asserts the
relative-error bound at sf0.1 where cardinality is 10x.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relational import register

HLL_LGK = 14  # 2^14 buckets: sparse-mode (exact) well past this data scale


@register(
    "q_a11_hll",
    oracle=(
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
        "COUNT(DISTINCT user_id) AS approx_users "
        "FROM events GROUP BY 1 ORDER BY day"
    ),
    doc="Distinct users per day via two-level mergeable HLL sketches: "
    "partial sketches per (day, event_type) -> hll_union_agg to day -> "
    "estimate. The union level proves re-aggregatability: the same "
    "per-(day, type) sketch table could roll up to week/month without "
    "re-scanning raw events. Exact COUNT(DISTINCT) oracle is valid "
    "because lgK=14 keeps the sketch in sparse (exact) mode at sf<=0.1; "
    "the >=1000x-scale behavior (bounded error, fixed memory) is "
    "asserted separately in tests.",
)
def q_a11_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import _t, normalize_event_ts

    e = normalize_event_ts(_t(spark, sf_dir, "events"))
    day = F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    # Level 1: bounded sketch per (day, event_type) — map-side partials,
    # shuffle rows are fixed-size sketch blobs, never raw user ids.
    partial = e.groupBy(day, "event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sk")
    )
    # Level 2: merge sketches across event types; estimate.
    return (
        partial.groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"))
        .orderBy("day")
    )


def distinct_sketches(df: DataFrame, value: str, *group_cols: str) -> DataFrame:
    """Reusable building block: per-group HLL sketch of ``value``.

    Returns (group_cols..., sk binary). Downstream callers union/merge
    with ``hll_union_agg`` and read with ``hll_sketch_estimate`` —
    the materialized form of 'aggregate once, re-aggregate forever'.
    """
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value, F.lit(HLL_LGK)).alias("sk")
    )


# ---------------------------------------------------------------------------
# Count-min sketch (mergeable frequency summary)
# ---------------------------------------------------------------------------

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 256  # buckets per row (fixed memory: DEPTH x WIDTH cells)


def _cms_bucket_sql(d: int) -> str:
    """DuckDB bucket expression for hash row ``d`` (portable md5-prefix
    hash — bit-identical to the Spark body's, q_x19 technique)."""
    return (
        f"CAST(('0x' || substr(md5('{d}:' || CAST(user_id AS VARCHAR)), 1, 8))"
        f"::BIGINT % {CMS_WIDTH} AS INT)"
    )


def cms_bucket_array(key: str) -> "F.Column":
    """Array of the key column's CMS bucket per hash row — the shared
    cell addressing used by the batch build (q_a17_cms) and the
    driver-side point query (cms_estimate)."""
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.encode(
                                F.concat(
                                    F.lit(f"{d}:"),
                                    F.col(key).cast("string"),
                                ),
                                "UTF-8",
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(CMS_WIDTH),
            ).cast("int")
            for d in range(CMS_DEPTH)
        ]
    )


@register(
    "q_a17_cms",
    oracle=(
        "SELECT d, bucket, COUNT(*) AS cnt FROM ("
        + " UNION ALL ".join(
            f"SELECT {d} AS d, {_cms_bucket_sql(d)} AS bucket FROM events"
            for d in range(CMS_DEPTH)
        )
        + ") GROUP BY d, bucket ORDER BY d, bucket"
    ),
    doc=f"Count-min sketch build: every event increments one of "
    f"{CMS_WIDTH} buckets in each of {CMS_DEPTH} independent hash rows "
    "(portable md5-prefix hashes so both engines fill identical "
    "cells); a key's frequency estimate is the MIN over its row cells "
    "— always an overestimate, bounded by collisions "
    "(tests/test_extensions.py asserts both properties plus cell-wise "
    "mergeability). This is the fixed-memory swap for q_a15's exact "
    "heavy hitters: the sketch is DEPTH x WIDTH cells no matter how "
    "many distinct keys exist. Plan: one scan, posexplode to DEPTH "
    "rows per event, ONE groupBy whose result — and therefore whose "
    "shuffle — is bounded by the sketch size, not the key cardinality; "
    "partial aggs mean each map task emits at most DEPTH x WIDTH "
    "partial cells. Scale: cell tables from any partitioning merge by "
    "addition (counts are associative), the 'aggregate once, "
    "re-aggregate forever' property shared with the HLL path above: "
    "cells built over any chunking of the input sum to this batch "
    "build.",
)
def q_a17_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import _t

    e = _t(spark, sf_dir, "events").select("user_id")
    return (
        e.select(F.posexplode(cms_bucket_array("user_id")).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("cnt"))
        .orderBy("d", "bucket")
    )


def cms_estimate(cells: dict[tuple[int, int], int], key: str) -> int:
    """Point-query the sketch built by q_a17_cms: MIN over the key's
    cell in each hash row (missing cell = 0). Driver-side helper for
    tests and interactive use — the sketch itself is tiny by design."""
    import hashlib

    est = None
    for d in range(CMS_DEPTH):
        h = hashlib.md5(f"{d}:{key}".encode()).hexdigest()[:8]
        cell = cells.get((d, int(h, 16) % CMS_WIDTH), 0)
        est = cell if est is None else min(est, cell)
    return est or 0


# ---------------------------------------------------------------------------
# Sketch set algebra (intersection via inclusion-exclusion)
# ---------------------------------------------------------------------------


@register(
    "q_a18_hll_setops",
    oracle=(
        "SELECT "
        "(SELECT COUNT(DISTINCT user_id) FROM events "
        " WHERE event_type = 'click') AS clickers, "
        "(SELECT COUNT(DISTINCT user_id) FROM events "
        " WHERE event_type = 'purchase') AS purchasers, "
        "(SELECT COUNT(DISTINCT user_id) FROM events "
        " WHERE event_type IN ('click', 'purchase')) AS either_n, "
        "(SELECT COUNT(DISTINCT e1.user_id) FROM events e1 "
        " WHERE e1.event_type = 'click' AND EXISTS ("
        "  SELECT 1 FROM events e2 WHERE e2.user_id = e1.user_id "
        "  AND e2.event_type = 'purchase')) AS both_n"
    ),
    doc="Sketch SET ALGEBRA: how many users both clicked AND "
    "purchased, computed from per-segment HLL sketches without "
    "touching raw ids twice — union comes from hll_union_agg, and the "
    "intersection by inclusion-exclusion (|A∩B| = |A| + |B| - |A∪B|). "
    "This is the audience-overlap query every marketing warehouse "
    "runs; sketches make it mergeable across days/segments where "
    "COUNT(DISTINCT) would re-shuffle raw ids per combination. The "
    "oracle computes all four cardinalities exactly; sparse-mode HLL "
    "(lgK=14 vs ~600 distinct users per segment) is exact, so the "
    "estimates match exactly at test SFs — at real scale "
    "inclusion-exclusion inherits ~1.6%-rse error bars from each term "
    "(theta sketches would bound intersection error directly; HLL is "
    "what ships in Spark). Plan: ONE scan, two filtered sketch "
    "aggregates + their union, one result row.",
)
def q_a18_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import _t

    e = _t(spark, sf_dir, "events").select("user_id", "event_type")
    sk = e.agg(
        F.hll_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id")),
            F.lit(HLL_LGK),
        ).alias("sk_click"),
        F.hll_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id")),
            F.lit(HLL_LGK),
        ).alias("sk_buy"),
    )
    return sk.select(
        F.hll_sketch_estimate("sk_click").alias("clickers"),
        F.hll_sketch_estimate("sk_buy").alias("purchasers"),
        F.hll_sketch_estimate(
            F.hll_union("sk_click", "sk_buy")
        ).alias("either_n"),
        (
            F.hll_sketch_estimate("sk_click")
            + F.hll_sketch_estimate("sk_buy")
            - F.hll_sketch_estimate(F.hll_union("sk_click", "sk_buy"))
        ).alias("both_n"),
    )


# ---------------------------------------------------------------------------
# Exact distinct via bitmap words (round 4)
# ---------------------------------------------------------------------------


@register(
    "q_a19_bitmap",
    oracle=(
        "SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users "
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    doc="EXACT distinct users per event type via bitmap-word "
    "aggregation: each user maps to (word = id DIV 64, bit = id % 64); "
    "partials OR their 64-bit words map-side, the shuffle carries at "
    "most one row per (type, word) — 64 users per shuffled long — and "
    "the final count is a popcount sum. This is the roaring-bitmap "
    "distinct-count shape for DENSE integer id spaces: exact like "
    "COUNT(DISTINCT) but with the shuffle compressed 64x, and the "
    "per-(type,word) state re-mergeable across rollup levels exactly "
    "like the HLL sketches above (bit_or is associative+idempotent). "
    "Sparse/unbounded keys want HLL (q_a11) instead; this operator is "
    "the exactness end of that trade.",
)
def q_a19_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    words = (
        e.select(
            "event_type",
            F.expr("user_id DIV 64").alias("word"),
            F.expr("CAST(1 AS BIGINT) << CAST(user_id % 64 AS INT)").alias(
                "bit"
            ),
        )
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )
    return (
        words.groupBy("event_type")
        .agg(F.sum(F.bit_count("mask")).cast("long").alias("n_users"))
        .orderBy("event_type")
    )
