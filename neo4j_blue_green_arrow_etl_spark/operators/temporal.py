"""Temporal operators Spark has no single built-in for: as-of join,
sessionization, and date arithmetic over the event stream.

The reference has no temporal operators at all (its only time logic is
max-timestamp latest-wins, SURVEY §2.9 ST3); these are the engine
capabilities SURVEY §2.3/§2.5 declares beyond it ("range/as-of via
inequality join conditions"), expressed shuffle-minimally:

- **As-of join** is NOT implemented as an inequality join (that is a
  partial cross product — quadratic per key, fatal at 100 TB). It is a
  union + single hash-shuffle on the key + in-partition sort +
  ``last(ignorenulls)`` running value: O(n log n) per partition, one
  shuffle total, AQE-skew-splittable, no join explosion.
- **Sessionization** uses the built-in ``session_window`` (the same
  expression runs under Structured Streaming with a watermark for the
  streaming variant; batch mode here so the oracle can check it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import fixtures as FX
from .relational import barrier_sort, normalize_event_ts, register

SESSION_GAP = "30 minutes"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with ``ts`` normalized to TimestampType (handles
    both the current timestamp[us] testdata and legacy ns-long trees)
    plus the ``ts_t`` alias window/session expressions bind to."""
    e = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return e.withColumn("ts_t", F.col("ts"))


def asof_join_events(e: DataFrame) -> DataFrame:
    """The as-of operator itself, DataFrame-in/DataFrame-out (property
    tests drive it with generated inputs)."""
    tagged = e.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "click").cast("int").alias("is_click"),
        F.when(F.col("event_type") == "error", F.col("value")).alias("err_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn(
            "last_error_value", F.round(F.last("err_value", ignorenulls=True).over(w), 2)
        )
        .filter(F.col("is_click") == 1)
        .select("event_id", "user_id", "last_error_value")
        .orderBy("event_id")
    )


@register(
    "q_j7_asof",
    oracle=(
        "SELECT c.event_id, c.user_id, "
        "ROUND((SELECT e.value FROM events e WHERE e.user_id = c.user_id "
        "AND e.event_type = 'error' AND e.ts <= c.ts "
        "ORDER BY e.ts DESC, e.event_id DESC LIMIT 1), 2) AS last_error_value "
        "FROM events c WHERE c.event_type = 'click' ORDER BY c.event_id"
    ),
    doc="As-of join: each click event picks up the value of the most "
    "recent error event at-or-before it for the same user (LEFT ASOF "
    "semantics; clicks with no prior error keep NULL). Scale: one "
    "hash-shuffle on user_id + in-partition sort + running "
    "last(ignorenulls) — no inequality-join cross product. Tie-break at "
    "equal ts: errors sort before clicks (>= semantics), higher "
    "event_id wins among simultaneous errors.",
)
def q_j7_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_join_events(spark.read.parquet(f"{sf_dir}/events.parquet"))


ASOF_TOL_US = 3_600 * 10**6  # 1 hour, in the microsecond ts domain


@register(
    "q_j7b_asof_tol",
    oracle=(
        "SELECT c.event_id, c.user_id, "
        "ROUND((SELECT e.value FROM events e WHERE e.user_id = c.user_id "
        "AND e.event_type = 'error' AND e.ts <= c.ts "
        "AND e.ts >= c.ts - INTERVAL 1 HOUR "  # DuckDB sees ts as TIMESTAMP; Spark side uses the raw ns domain
        "ORDER BY e.ts DESC, e.event_id DESC LIMIT 1), 2) AS last_error_value "
        "FROM events c WHERE c.event_type = 'click' ORDER BY c.event_id"
    ),
    doc="Tolerance-bounded as-of join: like q_j7_asof but a match only "
    "counts if the prior error is within 1 hour of the click (stale "
    "state expires — pd.merge_asof's `tolerance`). Same single-shuffle "
    "running-last plan; the carried state adds the matched row's ts, "
    "nulled out by a post-filter when older than the tolerance. Still "
    "no inequality-join cross product at any scale.",
)
def q_j7b_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_join_events_tol(
        spark.read.parquet(f"{sf_dir}/events.parquet"), ASOF_TOL_US
    )


def asof_join_events_tol(e: DataFrame, tol: int) -> DataFrame:
    """Tolerance-bounded as-of operator, DataFrame-in/DataFrame-out
    (property tests drive it with generated long inputs and small tol).
    ``tol`` is in the units of ``ts``: a TimestampType ts is converted
    to epoch microseconds internally, so pass tol in µs; an integer ts
    stays in its own domain and tol matches it directly."""
    if str(dict(e.dtypes).get("ts", "")).startswith("timestamp"):
        e = e.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")))
    tagged = e.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "click").cast("int").alias("is_click"),
        F.when(F.col("event_type") == "error", F.col("value")).alias("err_value"),
        F.when(F.col("event_type") == "error", F.col("ts")).alias("err_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # err_value/err_ts are null on exactly the same rows, so both
    # last(ignorenulls) pick fields of the SAME latest error row
    last_val = F.last("err_value", ignorenulls=True).over(w)
    last_ts = F.last("err_ts", ignorenulls=True).over(w)
    return (
        tagged.withColumn(
            "last_error_value",
            F.round(
                F.when(F.col("ts") - last_ts <= tol, last_val), 2
            ),
        )
        .filter(F.col("is_click") == 1)
        .select("event_id", "user_id", "last_error_value")
        .orderBy("event_id")
    )


@register(
    "q_st3_session",
    oracle=(
        "WITH marked AS ("
        "  SELECT user_id, ts, CASE WHEN "
        "    ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
        "      >= INTERVAL 30 MINUTE "
        "    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
        "  THEN 1 ELSE 0 END AS new_s FROM events"
        "), numbered AS ("
        "  SELECT user_id, ts, SUM(new_s) OVER ("
        "    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid "
        "  FROM marked) "
        "SELECT user_id, epoch_us(MIN(ts)) AS session_start_us, "
        "COUNT(*) AS n_events FROM numbered GROUP BY user_id, sid "
        "ORDER BY user_id, session_start_us"
    ),
    doc="Sessionization: per-user activity sessions with a 30-minute "
    "inactivity gap, via the built-in session_window (merge when the "
    "next event is strictly inside prev_ts + gap; a gap of exactly 30 "
    "min starts a new session — the oracle's gaps-and-islands uses >= "
    "to pin the same boundary). Scale: single shuffle on the session "
    "key; under readStream the identical expression is incremental "
    "with a watermark.",
)
def q_st3_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id", F.session_window("ts_t", SESSION_GAP).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


@register(
    "q_f6_datearith",
    oracle=(
        "SELECT o_orderkey, "
        "strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS due_str, "
        "CAST(CAST(o_orderdate AS DATE) - DATE '2024-01-01' AS BIGINT) AS days_since "
        "FROM orders ORDER BY o_orderkey"
    ),
    doc="Date arithmetic (SURVEY §2.8 declared 'date_add/datediff — "
    "built-in'): +30 day due date and day-offset from a fixed epoch. "
    "Pure per-row projection: no shuffle, whole-stage codegen, "
    "columns pruned to 2 at the scan.",
)
def q_f6_datearith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_str"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).cast("long").alias("days_since"),
    ).orderBy("o_orderkey")


@register(
    "q_st4_sliding",
    oracle=(
        "SELECT user_id, "
        "(CAST(floor(epoch(ts) / 900) AS BIGINT) - i) * 900 AS window_start_s, "
        "COUNT(*) AS cnt "
        "FROM events, unnest(range(0, 4)) AS t(i) "
        "GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    doc="Sliding event-time window (1 hour long, 15 min slide): every "
    "event lands in 4 overlapping windows. The oracle derives the same "
    "window set arithmetically (one row per (event, offset)). Scale: "
    "Spark expands each row 4x then aggregates — shuffle volume is "
    "slide_ratio x input, the known cost of sliding windows; "
    "under readStream the same expression is incremental.",
)
def q_st4_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id", F.window("ts_t", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "cnt",
        )
        .orderBy("user_id", "window_start_s")
    )


RANGE_JOIN_WINDOW_MIN = 30  # click must precede the error by < this


@register(
    "q_j10_range",
    oracle=(
        "SELECT e.event_id AS error_id, c.event_id AS click_id, "
        "CAST(epoch_us(e.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us "
        "FROM events e JOIN events c ON e.user_id = c.user_id "
        f"AND c.ts >= e.ts - INTERVAL {RANGE_JOIN_WINDOW_MIN} MINUTE "
        "AND c.ts < e.ts "
        "WHERE e.event_type = 'error' AND c.event_type = 'click' "
        "ORDER BY error_id, click_id"
    ),
    doc="Batch interval/range join (SURVEY §2.3 declared range join): "
    f"every (error, click) pair of the same user where the click falls "
    f"in the {RANGE_JOIN_WINDOW_MIN}-minute window before the error — "
    "the batch form of a stream-stream interval join. Executes as "
    "ONE hash shuffle on the user_id equi-key with the band predicate "
    "evaluated as a post-join filter inside the same stage; output is "
    "bounded by per-user activity density, not |events|^2. Skewed "
    "users are the risk at 100 TB: AQE skew-split handles moderate "
    "skew, salting the hot user ids handles the tail.",
)
def q_j10_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    err = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("err_ts")
    )
    clk = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    band_lo = F.col("err_ts") - F.expr(f"INTERVAL {RANGE_JOIN_WINDOW_MIN} MINUTES")
    return (
        err.join(
            clk,
            [
                err["user_id"] == clk["user_id"],
                F.col("click_ts") >= band_lo,
                F.col("click_ts") < F.col("err_ts"),
            ],
        )
        .select(
            "error_id",
            "click_id",
            (F.unix_micros("err_ts") - F.unix_micros("click_ts")).alias("gap_us"),
        )
        .orderBy("error_id", "click_id")
    )


# ---------------------------------------------------------------------------
# SCD2 dimension build from snapshot generations
# ---------------------------------------------------------------------------


@register(
    "q_w4_scd2",
    oracle=FX.with_clause("snapshots")
    + " SELECT customer_id, ts AS valid_from, "
    "LEAD(ts) OVER (PARTITION BY customer_id ORDER BY ts) AS valid_to, "
    "LEAD(ts) OVER (PARTITION BY customer_id ORDER BY ts) IS NULL AS is_current "
    "FROM snapshots ORDER BY customer_id, valid_from",
    doc="Slowly-changing-dimension (type 2) build over snapshot "
    "generations: each (customer, snapshot-ts) becomes a validity "
    "interval [valid_from, valid_to) closed by the customer's NEXT "
    "snapshot, open (is_current) on the newest — the warehouse-side "
    "record of exactly the blue/green cutover history the reference's "
    "alias repointing enacts (reference load_with_aliases.py:163-178: "
    "each SET DATABASE repoint supersedes the previous generation). "
    "One window shuffle on customer_id; interval closing is lead(), "
    "map-side after the shuffle. At 100 TB of dimension history this "
    "is the standard one-shuffle SCD2 shape.",
)
def q_w4_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("customer_id").orderBy("ts")
    nxt = F.lead("ts").over(w)
    return (
        FX.snapshots_df(spark)
        .select(
            "customer_id",
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("customer_id", "valid_from")
    )


# ---------------------------------------------------------------------------
# CDC changelog apply (merge-on-read latest state with delete semantics)
# ---------------------------------------------------------------------------


@register(
    "q_x16_cdc",
    oracle=(
        "SELECT user_id, ROUND(value, 2) AS last_value, ts AS updated_at "
        "FROM (SELECT user_id, value, ts, event_type, "
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
        "FROM events) WHERE rn = 1 AND event_type <> 'error' "
        "ORDER BY user_id"
    ),
    doc="CDC changelog apply — the merge-on-read pattern (Delta/Hudi "
    "MERGE semantics re-expressed as a query): the events stream is "
    "read as a keyed changelog where 'error' acts as a tombstone and "
    "everything else upserts; a key's CURRENT row is its latest entry "
    "(ts, event_id order), and keys whose latest entry is a tombstone "
    "are absent from the result. ONE hash shuffle on the key + "
    "in-partition sort (row_number, keep rn=1) — at 100 TB this is the "
    "compaction query that turns an append-only changelog into the "
    "current-state table, and it composes with q_x15_incragg's "
    "partial-combine for incremental re-compaction of only the "
    "partitions that received new changes.",
)
def q_x16_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.round("value", 2).alias("last_value"),
            F.col("ts").alias("updated_at"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + forward fill (resampling to a regular grid)
# ---------------------------------------------------------------------------


@register(
    "q_ts1_gapfill",
    oracle=(
        "WITH hourly AS ("
        "  SELECT user_id, date_trunc('hour', ts) AS h, "
        "  ROUND(SUM(value), 2) AS v, COUNT(*) AS n "
        "  FROM events GROUP BY 1, 2"
        "), bounds AS ("
        "  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1"
        "), grid AS ("
        "  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h "
        "  FROM bounds"
        "), j AS ("
        "  SELECT g.user_id, g.h, hr.v, hr.n FROM grid g "
        "  LEFT JOIN hourly hr ON g.user_id = hr.user_id AND g.h = hr.h"
        ") SELECT user_id, h AS hour, "
        "LAST_VALUE(v IGNORE NULLS) OVER ("
        "  PARTITION BY user_id ORDER BY h ROWS UNBOUNDED PRECEDING) AS value_sum, "
        "LAST_VALUE(n IGNORE NULLS) OVER ("
        "  PARTITION BY user_id ORDER BY h ROWS UNBOUNDED PRECEDING) AS n_events, "
        "CAST(v IS NULL AS INT) AS is_gap "
        "FROM j ORDER BY user_id, hour"
    ),
    doc="Time-series resampling: per-user hourly averages densified to "
    "a REGULAR hourly grid (every hour between the user's first and "
    "last activity) with forward fill across gaps (the filled pair "
    "(value_sum, n_events) comes from the same latest bucket, so avg "
    "stays derivable downstream without avg-rounding cross-engine "
    "instability) — the hypertable gap-fill/locf operator. Plan (r12 "
    "single-pass form): one agg to hourly buckets, then each present "
    "hour OWNS its gap span — explode sequence(h, next_h - 1h) from "
    "lead(h) emits the grid with fill values attached by construction "
    "(is_gap = generated hour != source hour); rows ∝ span/granularity, "
    "generated IN THE EXECUTORS, no bounds agg, no grid join, one "
    "window shuffle. ASSUMES non-null `value` per event (the fixture "
    "guarantees it): a present hour whose SUM(value) is NULL would be "
    "is_gap=0/value_sum NULL here while the oracle's IGNORE NULLS fill "
    "marks it is_gap=1 with the previous non-null v. At 100 TB the "
    "grid explode is bounded per key and the fill is the same "
    "single-shuffle running-last shape as the as-of join.",
)
def q_ts1_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 single-window form: the old plan materialized per-user
    # min/max bounds, exploded a grid, LEFT-JOINED the hourly buckets
    # back and ran a second window for the forward fill — 2 extra
    # aggregations + a join + a second window exchange. Equivalent in
    # one pass: each present hour OWNS the gap up to (exclusive) the
    # user's next present hour, so exploding sequence(h, next_h - 1h)
    # emits exactly the old grid with the fill values already attached
    # (value/count ride along; is_gap = generated hour != source hour).
    # The last present hour contributes only itself — identical to the
    # old max-bound. One agg + one lead window + one generator, no
    # join; the window shuffle is the same user_id exchange the old
    # fill window needed anyway (plan: 4 exchanges -> 2 + sort).
    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.sum("value"), 2).alias("v"), F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy("h")
    spans = hourly.withColumn("next_h", F.lead("h").over(w))
    filled = spans.select(
        "user_id",
        "v",
        "n",
        F.col("h").alias("src_h"),
        F.explode(
            F.sequence(
                "h",
                F.coalesce(
                    F.col("next_h") - F.expr("INTERVAL 1 HOUR"), F.col("h")
                ),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour"),
    )
    return filled.select(
        "user_id",
        "hour",
        F.col("v").alias("value_sum"),
        F.col("n").alias("n_events"),
        (F.col("hour") != F.col("src_h")).cast("int").alias("is_gap"),
    ).transform(barrier_sort("user_id", "hour"))


# ---------------------------------------------------------------------------
# RANGE-frame window (trailing time interval) + ranking family
# ---------------------------------------------------------------------------


@register(
    "q_w5_range",
    oracle=(
        "SELECT event_id, user_id, "
        "ROUND(SUM(value) OVER ("
        "  PARTITION BY user_id ORDER BY epoch_us(ts) "
        "  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW), 2) AS sum_24h "
        "FROM events ORDER BY event_id"
    ),
    doc="RANGE-frame analytic window: per event, the sum of the same "
    "user's values over the TRAILING 24 HOURS of event time — a frame "
    "defined by value distance (epoch microseconds), not row count, so "
    "simultaneous events share a frame and sparse/dense activity is "
    "handled uniformly. ONE hash shuffle on user_id + in-partition "
    "sort; Spark evaluates the range frame with a sliding two-pointer "
    "pass per partition (O(n) amortized). The rows-frame twin is q_w2.",
)
def q_w5_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    day_us = 86_400_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-day_us, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("sum_24h"),
    ).transform(barrier_sort("event_id"))


@register(
    "q_w6_rank",
    oracle=(
        "SELECT o_orderkey, o_custkey, "
        "DENSE_RANK() OVER w AS drank, "
        "NTILE(4) OVER w AS quartile, "
        "ROUND(PERCENT_RANK() OVER w, 6) AS prank "
        "FROM orders "
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) "
        "ORDER BY o_orderkey"
    ),
    doc="Ranking-function family in one window: dense_rank, ntile(4) "
    "quartile assignment, and percent_rank over each customer's orders "
    "by price. All three share ONE window spec, so Catalyst computes "
    "them in a single shuffle + sort pass (one Window node, three "
    "expressions) — the row_number variants are q_w1/q_x13_sample.",
)
def q_w6_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).alias("drank"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Truncated EWMA (exponentially weighted moving aggregate)
# --------------------------------------------------------------------------

EWMA_DECAY = 0.8
EWMA_SPAN = 20  # trailing rows in the truncated frame


def ewma_over_events(
    e: DataFrame, span: int = EWMA_SPAN, decay: float = EWMA_DECAY
) -> DataFrame:
    """The operator itself, DataFrame-in/DataFrame-out (property tests
    drive it with generated inputs): per-user truncated exponentially
    weighted sum over the trailing ``span`` values, newest weight 1."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(span - 1), 0)
    )
    vals = F.collect_list("value").over(w)
    n = F.size(vals)
    terms = F.zip_with(
        vals,
        F.sequence(F.lit(1), n),
        lambda v, i: v * F.pow(F.lit(decay), (n - i).cast("double")),
    )
    ewma = F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)
    return e.select(
        "user_id",
        "event_id",
        F.round(ewma, 6).alias("ewma"),
    ).orderBy("user_id", "event_id")


@register(
    "q_ts2_ewma",
    oracle=(
        "WITH w AS ("
        " SELECT user_id, event_id, value,"
        " list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id"
        f" ROWS BETWEEN {EWMA_SPAN - 1} PRECEDING AND CURRENT ROW) AS vals"
        " FROM events"
        ") SELECT user_id, event_id,"
        " ROUND(list_sum(list_transform(range(1, len(vals)+1),"
        f" i -> vals[i] * pow({EWMA_DECAY}, len(vals) - i))), 6) AS ewma"
        " FROM w ORDER BY user_id, event_id"
    ),
    doc=f"Truncated EWMA: per-user exponentially weighted sum of the "
    f"trailing {EWMA_SPAN} event values (decay {EWMA_DECAY}, newest "
    "weighted 1). ONE window pass: collect_list over a bounded ROWS "
    "frame, then a JVM higher-order fold (zip_with index -> pow weight "
    "-> aggregate) — no self-join, no Python, summation in frame order "
    "on both engines. Scale: bounded frame = bounded per-row state; one "
    "shuffle on user_id, same plan at any N. The untruncated recursive "
    "EWMA needs per-user state carried across arrivals (a stateful "
    "streaming op); the truncated window form is the batch-scan shape.",
)
def q_ts2_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ewma_over_events(_events(spark, sf_dir))


# --------------------------------------------------------------------------
# Funnel conversion (signup -> purchase within the window)
# --------------------------------------------------------------------------

FUNNEL_WINDOW = "1 hour"


def funnel_over_events(
    e: DataFrame, window: str = FUNNEL_WINDOW
) -> DataFrame:
    """The operator itself, DataFrame-in/DataFrame-out (property tests
    drive it with generated inputs): per-user signup -> purchase
    conversion within ``window`` via a running next-purchase MIN."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    next_p = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    return (
        e.withColumn("next_p", next_p)
        .filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_signups"),
            F.sum(
                F.when(
                    F.col("next_p").isNotNull()
                    & (F.col("next_p") >= F.col("ts"))
                    & (
                        F.col("next_p")
                        <= F.col("ts") + F.expr(f"INTERVAL {window}")
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_converted"),
        )
        .orderBy("user_id")
    )


@register(
    "q_ev1_funnel",
    oracle=(
        "WITH nxt AS ("
        " SELECT user_id, event_id, ts, event_type,"
        " MIN(CASE WHEN event_type = 'purchase' THEN ts END)"
        "  OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC"
        "        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_p"
        " FROM events"
        ") SELECT user_id,"
        " COUNT(*) AS n_signups,"
        " CAST(SUM(CASE WHEN next_p IS NOT NULL AND next_p >= ts"
        "     AND next_p <= ts + INTERVAL 1 HOUR THEN 1 ELSE 0 END)"
        "  AS BIGINT) AS n_converted"
        " FROM nxt WHERE event_type = 'signup'"
        " GROUP BY user_id ORDER BY user_id"
    ),
    doc=f"Funnel conversion: per user, how many signup events were "
    f"followed by a purchase within {FUNNEL_WINDOW}. NOT a per-user "
    "range self-join (quadratic per hot user): the event stream is "
    "sorted ONCE per user descending and a running MIN over purchase "
    "timestamps gives each signup its next purchase — one shuffle, one "
    "sort, linear state, the same single-pass discipline as the as-of "
    "join above. Scale: no join explosion on power users; AQE skew "
    "splitting applies to the one window shuffle.",
)
def q_ev1_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel_over_events(_events(spark, sf_dir))


# --------------------------------------------------------------------------
# Cohort retention
# --------------------------------------------------------------------------


@register(
    "q_ev2_cohort",
    oracle=(
        "WITH first_seen AS ("
        " SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort_day"
        " FROM events GROUP BY 1"
        "), act AS ("
        " SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS act_day"
        " FROM events"
        ") SELECT f.cohort_day,"
        " datediff('day', f.cohort_day, a.act_day) AS day_offset,"
        " COUNT(*) AS n_active"
        " FROM first_seen f JOIN act a USING (user_id)"
        " GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    doc="Cohort retention: users grouped by first-seen day, counted "
    "active per day offset — the standard retention triangle. Plan: "
    "one groupBy for first-seen (min ts per user), one distinct on "
    "(user, day), an equi-join on user_id, one final groupBy. The "
    "first-seen side is user-cardinality (small relative to events) so "
    "it broadcasts; the distinct and the final agg are the only "
    "event-volume shuffles. Scale: both shuffles key on user_id / "
    "(cohort, offset) — bounded-cardinality keys, map-side partial "
    "aggregation takes most of the volume out before the wire.",
)
def q_ev2_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    first_seen = (
        e.groupBy("user_id")
        .agg(F.to_date(F.min("ts")).alias("cohort_day"))
    )
    act = e.select("user_id", F.to_date("ts").alias("act_day")).distinct()
    return (
        act.join(F.broadcast(first_seen), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("act_day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


# --------------------------------------------------------------------------
# Event transition matrix (behavioral bigram statistics)
# --------------------------------------------------------------------------


@register(
    "q_ev3_transitions",
    oracle=(
        "WITH s AS ("
        " SELECT user_id, event_type,"
        " lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type"
        " FROM events"
        ") SELECT event_type, next_type, COUNT(*) AS n,"
        " ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY event_type), 6) AS p"
        " FROM s WHERE next_type IS NOT NULL"
        " GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    doc="Event-transition matrix: first-order Markov bigram counts and "
    "row-normalized probabilities over each user's event sequence — "
    "the behavioral-sequence statistic session-modeling and "
    "next-event-prediction training sets start from. Plan: one window "
    "shuffle on user_id for lead(), one |event types|^2-cardinality "
    "groupBy, and the normalizing SUM is a second window over the "
    "ALREADY-TINY matrix (25 rows here), not the events. Scale: the "
    "event-volume work is exactly one shuffle + map-side-combined agg; "
    "the matrix itself is alphabet-squared regardless of N.",
)
def q_ev3_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = s.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("event_type")
    return (
        counts.select(
            "event_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.sum("n").over(wt), 6).alias("p"),
        )
        .orderBy("event_type", "next_type")
    )


# --------------------------------------------------------------------------
# Last-touch attribution
# --------------------------------------------------------------------------


@register(
    "q_ev4_attribution",
    oracle=(
        "WITH tagged AS ("
        " SELECT event_id, ts, event_type,"
        " last_value(CASE WHEN event_type <> 'purchase' THEN event_type END"
        " IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch"
        " FROM events"
        ") SELECT COALESCE(touch, 'direct') AS channel,"
        " COUNT(*) AS n_purchases"
        " FROM tagged WHERE event_type = 'purchase'"
        " GROUP BY 1 ORDER BY 1"
    ),
    doc="Last-touch attribution: each purchase is credited to the most "
    "recent PRECEDING non-purchase event of the same user ('direct' "
    "when none exists) — the standard marketing-attribution primitive "
    "and the same single-pass running-last discipline as the as-of "
    "join: one shuffle on user_id, a 1-PRECEDING frame so a purchase "
    "never attributes to itself or a simultaneous later event, then a "
    "channel-cardinality groupBy. Scale: no per-user self-join; the "
    "final aggregate is alphabet-sized.",
)
def q_ev4_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("direct")).alias("channel"))
        .agg(F.count("*").alias("n_purchases"))
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Linear interpolation of missing time-series values
# --------------------------------------------------------------------------

INTERP_MISS_MOD = 7  # event_id % MOD == 0 -> value treated as missing


def interpolate_series(
    df: DataFrame, key: str, ts: str, tiebreak: str, t: str, v: str
) -> DataFrame:
    """The interpolation operator itself, DataFrame-in/DataFrame-out
    (property tests drive it with generated inputs): add
    ``value_interp`` reconstructing NULLs in ``v`` linearly between the
    nearest non-null neighbors (positions from numeric column ``t``),
    forward/back-filling at the series edges, previous-anchor fallback
    when both anchors share a position. Ordering within a key is
    (``ts``, ``tiebreak``); both window frames share one partitioning,
    so Catalyst plans a single shuffle + sort."""
    wp = (
        Window.partitionBy(key)
        .orderBy(ts, tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy(key)
        .orderBy(ts, tiebreak)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t_of_v = F.when(F.col(v).isNotNull(), F.col(t))
    filled = df.select(
        "*",
        F.last(v, ignorenulls=True).over(wp).alias("pv"),
        F.last(t_of_v, ignorenulls=True).over(wp).alias("pt"),
        F.first(v, ignorenulls=True).over(wn).alias("nv"),
        F.first(t_of_v, ignorenulls=True).over(wn).alias("nt"),
    )
    interp = (
        F.when(
            F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
            & (F.col("nt") != F.col("pt")),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col(t) - F.col("pt"))
            / (F.col("nt") - F.col("pt")),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return filled.withColumn("value_interp", interp).drop(
        "pv", "pt", "nv", "nt"
    )


@register(
    "q_ts3_interp",
    oracle=(
        "WITH base AS ("
        " SELECT event_id, user_id, epoch_us(ts) AS t,"
        f" CASE WHEN event_id % {INTERP_MISS_MOD} = 0 THEN NULL"
        "       ELSE value END AS v,"
        " ts FROM events"
        "), filled AS ("
        " SELECT event_id, user_id, t, v,"
        " last_value(v IGNORE NULLS) OVER wp AS pv,"
        " last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)"
        "   OVER wp AS pt,"
        " first_value(v IGNORE NULLS) OVER wn AS nv,"
        " first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)"
        "   OVER wn AS nt"
        " FROM base"
        " WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),"
        " wn AS (PARTITION BY user_id ORDER BY ts, event_id"
        "   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
        ") SELECT event_id, user_id, "
        "ROUND(CASE"
        " WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt THEN"
        "   pv + (nv - pv) * (t - pt) / (nt - pt)"
        " WHEN pv IS NOT NULL THEN pv"
        " ELSE nv END, 4) AS value_interp, "
        f"(event_id % {INTERP_MISS_MOD} = 0) AS was_missing "
        "FROM filled ORDER BY user_id, event_id"
    ),
    doc="Linear interpolation of missing sensor values (every "
    f"{INTERP_MISS_MOD}th event's value is deterministically masked to "
    "NULL to simulate gaps): per user, each missing value is "
    "reconstructed from the nearest non-null neighbors weighted by "
    "event-time distance — v = pv + (nv-pv)*(t-pt)/(nt-pt) — with "
    "forward/back-fill at series edges and a prev-value fallback when "
    "both anchors share a timestamp. TWO window passes over ONE "
    "partitioning (prev via last ignorenulls over the preceding frame, "
    "next via first ignorenulls over the following frame): Catalyst "
    "plans both in a single shuffle on user_id + one in-partition "
    "sort. Scale: per-row constant state, no self-join — the standard "
    "gap-repair step before resampling feeds model training; contrast "
    "q_ts1_gapfill which inserts rows, while this repairs values.",
)
def q_ts3_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    masked = e.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts_t")).alias("t"),
        F.when(
            F.col("event_id") % INTERP_MISS_MOD == 0, F.lit(None)
        ).otherwise(F.col("value")).alias("v"),
        "ts",
    )
    return (
        interpolate_series(
            masked, key="user_id", ts="ts", tiebreak="event_id", t="t", v="v"
        )
        .select(
            "event_id",
            "user_id",
            F.round("value_interp", 4).alias("value_interp"),
            (F.col("event_id") % INTERP_MISS_MOD == 0).alias("was_missing"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# Time-hierarchy rollup (continuous-aggregate / hypertable shape)
# --------------------------------------------------------------------------


@register(
    "q_ts4_rollup",
    oracle=(
        "SELECT EXTRACT(YEAR FROM ts) AS y, EXTRACT(MONTH FROM ts) AS m, "
        "EXTRACT(DAY FROM ts) AS d, "
        "GROUPING(EXTRACT(YEAR FROM ts)) * 4 "
        " + GROUPING(EXTRACT(MONTH FROM ts)) * 2 "
        " + GROUPING(EXTRACT(DAY FROM ts)) AS gid, "
        "COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value "
        "FROM events "
        "GROUP BY ROLLUP(EXTRACT(YEAR FROM ts), EXTRACT(MONTH FROM ts), "
        "EXTRACT(DAY FROM ts)) "
        "ORDER BY gid, y NULLS LAST, m NULLS LAST, d NULLS LAST"
    ),
    doc="Time-hierarchy rollup: event counts and value sums at "
    "day/month/year/grand-total granularity in ONE pass — the "
    "continuous-aggregate ladder a hypertable maintains, expressed as "
    "GROUP BY ROLLUP over calendar parts. grouping_id distinguishes "
    "each tier. Plan: one Expand (x4 = hierarchy depth + 1) + one "
    "shuffle whose rows are bounded by distinct (day, tier) buckets — "
    "calendar cardinality, not event cardinality, thanks to partial "
    "aggregation. Scale: at 100 TB the coarser tiers are FREE "
    "by-products of the day-level partials; materialize the output as "
    "the serving rollup and maintain it incrementally per q_x15's "
    "delta pattern.",
)
def q_ts4_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select(
        F.year("ts_t").alias("y"),
        F.month("ts_t").alias("m"),
        F.dayofmonth("ts_t").alias("d"),
        "value",
    )
    return (
        e.rollup("y", "m", "d")
        .agg(
            (
                F.grouping(F.col("y")) * 4
                + F.grouping(F.col("m")) * 2
                + F.grouping(F.col("d"))
            ).alias("gid"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("gid", F.asc_nulls_last("y"), F.asc_nulls_last("m"), F.asc_nulls_last("d"))
    )


# --------------------------------------------------------------------------
# User-journey path analysis (top opening event sequences)
# --------------------------------------------------------------------------

JOURNEY_LEN = 3  # opening events per user forming the path


@register(
    "q_ev5_paths",
    oracle=(
        "WITH ranked AS ("
        " SELECT user_id, event_type,"
        " row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        "   AS rk"
        " FROM events"
        "), paths AS ("
        " SELECT user_id,"
        " string_agg(event_type, '>' ORDER BY rk) AS path"
        f" FROM ranked WHERE rk <= {JOURNEY_LEN} GROUP BY user_id"
        ") SELECT path, COUNT(*) AS n_users "
        "FROM paths GROUP BY path ORDER BY n_users DESC, path"
    ),
    doc=f"Journey-path analysis: each user's first {JOURNEY_LEN} events "
    "(event-time order, event_id tiebreak) joined into a path string, "
    "counted across users — the onboarding-funnel 'what do people do "
    "first' query, and the aggregation the Markov transition matrix "
    "(q_ev3) marginalizes. Plan: one window shuffle on user_id ranks "
    "the events; the kept rows collapse to one path row per user via "
    "an in-shuffle sort_array of (rank, type) structs — order-correct "
    "without a second sort — then an alphabet^k-bounded groupBy. "
    "Scale: per-user state is k events; path cardinality (the final "
    "shuffle) is bounded by |event types|^k, independent of user "
    "count.",
)
def q_ev5_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= JOURNEY_LEN)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("rk", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
    )


# --------------------------------------------------------------------------
# Gaps and islands (contiguous-run detection)
# --------------------------------------------------------------------------


@register(
    "q_w9_islands",
    oracle=(
        "WITH numbered AS ("
        " SELECT user_id, event_id,"
        " event_id - row_number() OVER ("
        "   PARTITION BY user_id ORDER BY event_id) AS grp"
        " FROM events"
        ") SELECT user_id, MIN(event_id) AS island_start, "
        "MAX(event_id) AS island_end, COUNT(*) AS island_len "
        "FROM numbered GROUP BY user_id, grp "
        "ORDER BY user_id, island_start"
    ),
    doc="Gaps-and-islands: contiguous runs of event_ids per user via "
    "the classic id-minus-row_number grouping key (consecutive ids "
    "share a constant difference to their rank). The shape behind "
    "'consecutive active days', sequence-gap detection in CDC id "
    "columns, and segment compaction. ONE window shuffle on user_id + "
    "a groupBy whose key count equals the number of islands — both "
    "bounded by the data actually scanned; no self-join, no "
    "per-island iteration. Scale: identical cost profile to any "
    "single-window query; AQE skew-split covers hot users.",
)
def q_w9_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select("user_id", "event_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    grp = F.col("event_id") - F.row_number().over(w)
    return (
        e.withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(
            F.min("event_id").alias("island_start"),
            F.max("event_id").alias("island_end"),
            F.count("*").alias("island_len"),
        )
        .drop("grp")
        .orderBy("user_id", "island_start")
    )


# ---------------------------------------------------------------------------
# OHLC resampling (round 4)
# ---------------------------------------------------------------------------

OHLC_BUCKET = "6 hours"


@register(
    "q_ts5_ohlc",
    oracle=(
        "WITH k AS (SELECT event_type, "
        "  time_bucket(INTERVAL '6 hours', ts) AS b, value, "
        "  printf('%020d|%012d', epoch_us(ts), event_id) AS ord "
        " FROM events) "
        "SELECT event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket, "
        " ROUND(arg_min(value, ord), 2) AS open, "
        " ROUND(MAX(value), 2) AS high, "
        " ROUND(MIN(value), 2) AS low, "
        " ROUND(arg_max(value, ord), 2) AS close, "
        " CAST(COUNT(*) AS BIGINT) AS n "
        "FROM k GROUP BY event_type, b ORDER BY event_type, bucket"
    ),
    doc=f"OHLC downsampling: per event_type per {OHLC_BUCKET} bucket, "
    "open/high/low/close/count — the financial-bar resample every "
    "time-series store ships. Open/close are min_by/max_by on a padded "
    "(epoch_us, event_id) string key, so ties at the bucket edge break "
    "identically on both engines (a plain arg_min on ts is "
    "nondeterministic under same-timestamp events). Scale: one "
    "partial-aggregated shuffle on (type, bucket) — min_by/max_by "
    "carry one candidate per partial, the same map-side combine "
    "discipline as min/max; no window, no sort of the raw stream.",
)
def q_ts5_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    ordk = F.format_string(
        "%020d|%012d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    return (
        ev.select(
            "event_type",
            F.window("ts", OHLC_BUCKET).start.alias("b"),
            "value",
            ordk.alias("ord"),
        )
        .groupBy("event_type", "b")
        .agg(
            F.round(F.min_by("value", "ord"), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", "ord"), 2).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "n",
        )
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection (round 4)
# ---------------------------------------------------------------------------

ANOM_WINDOW = 20  # trailing rows in the rolling baseline
ANOM_Z = 3.0


@register(
    "q_ts6_anomaly",
    oracle=(
        "WITH st AS ("
        " SELECT event_id, event_type, ts, value,"
        "  AVG(value) OVER w AS mu, STDDEV_SAMP(value) OVER w AS sd,"
        "  COUNT(*) OVER w AS n"
        " FROM events"
        f" WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id"
        f"  ROWS BETWEEN {ANOM_WINDOW} PRECEDING AND 1 PRECEDING)"
        ") SELECT event_id, event_type, ROUND(value, 2) AS value,"
        " ROUND((value - mu) / sd, 2) AS z"
        f" FROM st WHERE n >= {ANOM_WINDOW} AND sd > 0"
        f"  AND abs(value - mu) > {ANOM_Z} * sd"
        " ORDER BY event_id"
    ),
    doc=f"Rolling z-score anomaly detection: per event_type, each "
    f"value is scored against the mean/stddev of the {ANOM_WINDOW} "
    f"PRECEDING events (exclusive of itself — a spike must not inflate "
    f"its own baseline) and flagged when it deviates more than "
    f"{ANOM_Z} sigma. The monitoring primitive behind every metrics "
    "alert. Scale: one window shuffle on event_type with a bounded "
    "ROWS frame — state per partition is the frame, not the stream; "
    "under Structured Streaming the same baseline runs as a windowed "
    "aggregate join.",
)
def q_ts6_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOM_WINDOW, -1)
    )
    st = e.select(
        "event_id",
        "event_type",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return (
        st.filter(
            (F.col("n") >= ANOM_WINDOW)
            & (F.col("sd") > 0)
            & (F.abs(F.col("value") - F.col("mu")) > ANOM_Z * F.col("sd"))
        )
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round((F.col("value") - F.col("mu")) / F.col("sd"), 2).alias("z"),
        )
        .transform(barrier_sort("event_id"))
    )


# ---------------------------------------------------------------------------
# Rolling exact median (round 4, wave 2)
# ---------------------------------------------------------------------------

ROLLMED_FRAME = 20  # trailing rows (plus current) in the median window


@register(
    "q_w10_rollmedian",
    oracle=(
        "SELECT event_id, event_type, "
        " ROUND(median(value) OVER ("
        "   PARTITION BY event_type ORDER BY ts, event_id"
        f"   ROWS BETWEEN {ROLLMED_FRAME} PRECEDING AND CURRENT ROW), 3)"
        " AS roll_median"
        " FROM events"
        " ORDER BY event_id"
    ),
    doc=f"Rolling EXACT median per event_type over a trailing "
    f"{ROLLMED_FRAME + 1}-row frame — the robust-baseline smoother "
    "(median absolute deviation's running twin; unlike the rolling "
    "mean in q_ts6_anomaly it shrugs off the very outliers you're "
    "hunting). Spark's percentile(0.5) aggregate runs as a WINDOW "
    "function over the bounded ROWS frame, linearly interpolated for "
    "even counts exactly like DuckDB's median. Scale: one window "
    "shuffle on event_type; per-row cost is the frame sort, bounded "
    "by the constant frame length — no global sort, no state beyond "
    "the frame.",
)
def q_w10_rollmedian(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-ROLLMED_FRAME, 0)
    )
    return e.select(
        "event_id",
        "event_type",
        F.round(F.expr("percentile(value, 0.5)").over(w), 3).alias(
            "roll_median"
        ),
    ).transform(barrier_sort("event_id"))


# ---------------------------------------------------------------------------
# Three-step ordered funnel (round 4, wave 2)
# ---------------------------------------------------------------------------

_FUNNEL3_ORACLE = """
WITH p1 AS (
  SELECT user_id, event_id, ts, event_type,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) OVER w AS next_p
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), p2 AS (
  SELECT user_id, event_id, ts, event_type,
    MIN(CASE WHEN event_type = 'click' AND next_p IS NOT NULL
         AND next_p >= ts AND next_p <= ts + INTERVAL 1 HOUR
         THEN ts END) OVER w AS next_qc
  FROM p1
  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_signups,
  CAST(SUM(CASE WHEN next_qc IS NOT NULL AND next_qc >= ts
       AND next_qc <= ts + INTERVAL 1 HOUR THEN 1 ELSE 0 END)
   AS BIGINT) AS n_conv3
FROM p2 WHERE event_type = 'signup'
GROUP BY user_id ORDER BY user_id
"""


@register(
    "q_ev6_funnel3",
    oracle=_FUNNEL3_ORACLE,
    doc="Three-step ordered funnel: signup -> click (within 1 h) -> "
    "purchase (within 1 h of the click), counted per user. Extends "
    "q_ev1_funnel's single-pass discipline to chained steps: sort the "
    "user's stream ONCE descending, run TWO stacked running-MIN "
    "windows over the same sort — pass 1 gives every click its next "
    "purchase (qualifying the click), pass 2 gives every signup its "
    "next QUALIFYING click. No per-step self-join, no quadratic "
    "blow-up on power users; the second window reuses the first's "
    "shuffle and sort (same partitioning, same order). Oracle mirrors "
    "the identical two-pass window construction so equal-timestamp "
    "visibility ties break the same way on both engines. Scale: ONE "
    "shuffle however many funnel steps you stack — each extra step is "
    "another window over the already-sorted partition.",
)
def q_ev6_funnel3(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hour = F.expr("INTERVAL 1 HOUR")
    p1 = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).over(w).alias("next_p"),
    )
    qc = F.when(
        (F.col("event_type") == "click")
        & F.col("next_p").isNotNull()
        & (F.col("next_p") >= F.col("ts"))
        & (F.col("next_p") <= F.col("ts") + hour),
        F.col("ts"),
    )
    p2 = p1.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.min(qc).over(w).alias("next_qc"),
    )
    conv = (
        F.col("next_qc").isNotNull()
        & (F.col("next_qc") >= F.col("ts"))
        & (F.col("next_qc") <= F.col("ts") + hour)
    )
    return (
        p2.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.sum(conv.cast("int")).cast("long").alias("n_conv3"),
        )
        .orderBy("user_id")
    )
