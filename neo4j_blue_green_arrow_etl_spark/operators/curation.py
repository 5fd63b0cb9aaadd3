"""Corpus-curation operators a large-scale training-data pipeline needs
beyond dedup: benchmark decontamination, deterministic dataset mixing,
repetition-based quality signals, and corpus-level token statistics.

These have no analogue in the reference (a graph ETL loader) — they are
the north-star extension surface, same register-and-oracle discipline
as the dedup/similarity/text families.

Design notes (the 100 TB argument per operator):

- **q_x8_decontam**: drop corpus documents that share any word 5-gram
  with a held-out benchmark set (eval-set leakage removal). The
  benchmark side of the join is SMALL by nature (eval suites are
  thousands of documents against a 100 TB corpus), so its distinct
  gram set is broadcast and the corpus side stays map-local: explode
  grams -> broadcast LEFT SEMI -> one distinct on contaminated doc_id
  -> broadcast LEFT ANTI against the corpus. No all-pairs, no
  corpus-side shuffle except the final small anti-join.

- **q_x9_mix**: language-rebalanced sampling via a DETERMINISTIC hash
  of doc_id — every engine and every run selects the same rows (md5 is
  engine-portable; Spark's rand/sampleBy is not reproducible across
  engines). Keep-rate per language is a CASE over the first two hex
  digits (256 buckets). Map-only: scales with scan bandwidth, zero
  shuffle, and the decision column prunes to (doc_id, lang).

- **q_text_repetition**: Gopher-style repetition signals — duplicated
  word-bigram fraction (array expressions, per-row) and top-single-word
  fraction (one explode + two-level aggregation; partial aggs make the
  shuffle rows (doc_id, word, count), bounded by per-doc vocabulary).

- **q_x10_idf**: corpus document-frequency / IDF of tokens. Explode
  DISTINCT words per doc (array_distinct before explode keeps the
  shuffle at one row per (doc, word), not per occurrence), aggregate
  df per word, broadcast the one-row corpus count for the idf term.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .relational import barrier_sort, register, rescue_parallelism

DECONTAM_N = 5  # word n-gram length for benchmark-overlap matching
BENCH_MOD = 97  # doc_id % BENCH_MOD == 0 -> document is "benchmark"

# lang -> keep-rate in 256ths, compared against the first two hex digits
# of md5(doc_id). Lexicographic compare of fixed-width hex == numeric.
MIX_RATES: dict[str, int] = {"en": 256, "es": 128, "de": 128, "fr": 64, "zh": 64}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain read: most curation queries are light per-row maps where a
    # rescue repartition costs more than it parallelizes (measured
    # family-wide: a handful of -0.2s wins vs +0.3-1.3s losses) — only
    # the 5-gram decontamination fan-out repays it; q_x8 opts in
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def word_ngrams(text: Column, n: int) -> Column:
    """Array of space-joined word n-grams of ``text`` (pure column
    expressions). Built as n-1 chained ``zip_with`` calls over shifted
    ``slice`` views — each slice is ONE bulk O(len) copy and each zip
    step allocates only the result strings, unlike the naive
    transform-of-slices which allocates a fresh sub-array per position
    (measured 5x for bigrams, 1.8x for 5-grams at sf0.1; results are
    byte-identical). Documents shorter than ``n`` words yield an EMPTY
    array — the guard matters: ``sequence(1, 0)`` is a descending
    [1, 0] in Spark, whose ``slice(words, 0, n)`` throws
    INVALID_PARAMETER_VALUE.START."""
    words = F.split(text, " ")
    sz = F.size(words)
    m = sz - F.lit(n - 1)  # n-gram count when sz >= n
    acc = F.slice(words, 1, m)
    for k in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(words, k + 1, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(sz >= n, acc).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# Decontamination
# ---------------------------------------------------------------------------

_DECONTAM_ORACLE = f"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
), grams AS (
  SELECT a.doc_id,
         a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w || ' ' || e.w AS gram
  FROM words a
  JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN words c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
  JOIN words d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3
  JOIN words e ON a.doc_id = e.doc_id AND e.pos = a.pos + 4
), bench_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0
), contaminated AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE doc_id % {BENCH_MOD} <> 0 AND gram IN (SELECT gram FROM bench_grams)
)
SELECT doc_id FROM documents
WHERE doc_id % {BENCH_MOD} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
ORDER BY doc_id
"""


def benchmark_gram_sets(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(corpus_grams, bench_grams): per-doc distinct word n-grams with
    an ``is_bench`` flag, and the distinct benchmark gram set — the
    shared front half of both decontamination shapes (binary q_x8,
    graded q_x26)."""
    grams = d.select(
        "doc_id",
        (F.col("doc_id") % BENCH_MOD == 0).alias("is_bench"),
        F.explode(F.array_distinct(word_ngrams(F.col("text"), DECONTAM_N))).alias(
            "gram"
        ),
    ).filter(F.size(F.split(F.col("gram"), " ")) == DECONTAM_N)
    bench_grams = grams.filter("is_bench").select("gram").distinct()
    return grams, bench_grams


def contaminated_doc_ids(d: DataFrame) -> DataFrame:
    """Distinct non-benchmark doc_ids sharing >= 1 benchmark n-gram —
    the broadcast LEFT SEMI step of the decontamination pipeline."""
    grams, bench_grams = benchmark_gram_sets(d)
    return (
        grams.filter(~F.col("is_bench"))
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )


@register(
    "q_x8_decontam",
    oracle=_DECONTAM_ORACLE,
    doc=f"Benchmark decontamination: drop corpus docs sharing any word "
    f"{DECONTAM_N}-gram with the benchmark subset (doc_id % {BENCH_MOD} = 0 "
    "stands in for an eval suite). Scale: the benchmark gram set is tiny vs "
    "the corpus, so both the semi-join (find contaminated) and the anti-join "
    "(drop them) broadcast — the corpus is never shuffled.",
)
def q_x8_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 5-gram explode on both legs of the gram-set build — heavy enough
    # to repay the scan rescue (r12 measured 2.26 -> 1.41s at sf0.1;
    # identity at scale)
    d = rescue_parallelism(_docs(spark, sf_dir), "doc_id")
    return (
        d.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(contaminated_doc_ids(d)), "doc_id", "left_anti")
        .select("doc_id")
        .transform(barrier_sort("doc_id"))
    )


# ---------------------------------------------------------------------------
# Deterministic dataset mixing
# ---------------------------------------------------------------------------


def _mix_threshold(rate: int) -> str:
    """Two-char string s.t. (first two md5 hex digits) < s keeps rate/256
    of rows. Hex digits are 0-9a-f, so 'g0' > every bucket (keep all);
    fixed width keeps lexicographic == numeric for the rest."""
    return "g0" if rate >= 256 else f"{rate:02x}"


def _mix_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN '{_mix_threshold(rate)}'"
        for lang, rate in sorted(MIX_RATES.items())
    )
    return f"CASE lang {whens} ELSE '00' END"


@register(
    "q_x9_mix",
    oracle=(
        "SELECT doc_id, lang FROM documents "
        f"WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < {_mix_case_sql()} "
        "ORDER BY doc_id"
    ),
    doc="Language-rebalanced corpus mixing: keep each doc iff the first two "
    "hex digits of md5(doc_id) fall under its language's keep-rate (en 100%, "
    "es/de 50%, fr/zh 25%). Deterministic across runs/engines, unlike "
    "rand()-based sampleBy. Map-only; zero shuffle.",
)
def q_x9_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    threshold = F.lit("00")
    for lang, rate in sorted(MIX_RATES.items()):
        threshold = F.when(F.col("lang") == lang, _mix_threshold(rate)).otherwise(
            threshold
        )
    return (
        d.filter(bucket < threshold).select("doc_id", "lang").orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture resampling
# ---------------------------------------------------------------------------

# 2^24 md5-prefix buckets: enough resolution that a rate is representable
# to ~6e-8, small enough that FLOOR(rate * 2^24) stays exact in a double
_TEMP_BUCKETS = 16777216

_TEMP_ORACLE = """
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
t AS (SELECT SUM(n) AS tot FROM c),
p AS (SELECT lang, n, n * 1.0 / tot AS p FROM c, t),
m AS (SELECT MIN(p) AS pmin FROM p),
r AS (SELECT lang, n, sqrt(pmin / p) AS rate,
        CASE WHEN sqrt(pmin / p) >= 1 THEN 'g'
             ELSE printf('%06x',
                CAST(FLOOR(sqrt(pmin / p) * 16777216) AS INT)) END AS thr
      FROM p, m),
k AS (SELECT d.lang FROM documents d JOIN r USING (lang)
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < thr)
SELECT r.lang AS lang, CAST(r.n AS BIGINT) AS n_docs,
       CAST(COALESCE(kk.cnt, 0) AS BIGINT) AS n_kept,
       ROUND(rate, 6) AS keep_rate
FROM r LEFT JOIN (SELECT lang, COUNT(*) AS cnt FROM k GROUP BY 1) kk
  USING (lang)
ORDER BY lang
"""


@register(
    "q_x40_tempmix",
    oracle=_TEMP_ORACLE,
    doc="Temperature-based mixture resampling (alpha = 0.5, the "
    "multilingual-LM rebalancing rule): language g with corpus share "
    "p_g is kept at rate (p_min/p_g)^0.5, so the smallest language "
    "keeps everything and head languages are squashed toward the "
    "tempered distribution p^alpha / sum p^alpha. Acceptance is the same "
    "deterministic md5-prefix bucket as q_x9_mix, with the rate "
    "quantized to 2^24 buckets rendered as a 6-hex-digit threshold — "
    "identical in both engines because alpha = 0.5 makes the rate one "
    "IEEE-exact sqrt and divide (no libm pow drift). Scale: the rate "
    "table is one groupBy of the language column broadcast back; the "
    "corpus itself is filtered map-side, never shuffled — resampling "
    "100 TB costs one scan plus a per-language summary agg.",
)
def q_x40_tempmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("tot"))
    p = counts.crossJoin(F.broadcast(tot)).select(
        "lang", "n", (F.col("n") * 1.0 / F.col("tot")).alias("p")
    )
    pmin = p.agg(F.min("p").alias("pmin"))
    rate = F.sqrt(F.col("pmin") / F.col("p"))
    rates = p.crossJoin(F.broadcast(pmin)).select(
        "lang",
        "n",
        rate.alias("rate"),
        F.when(rate >= 1, F.lit("g"))
        .otherwise(
            F.format_string(
                "%06x",
                F.floor(rate * _TEMP_BUCKETS).cast("int"),
            )
        )
        .alias("thr"),
    )
    kept = (
        d.join(F.broadcast(rates), "lang")
        .filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6)
            < F.col("thr")
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            F.coalesce(F.col("cnt"), F.lit(0)).alias("n_kept"),
            F.round("rate", 6).alias("keep_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Multi-epoch mixture sampling WITH replacement (the upsampling twin)
# ---------------------------------------------------------------------------

_EPOCH_ORACLE = """
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
m AS (SELECT MAX(n * 1.0) AS mx FROM c),
r AS (SELECT lang, n, sqrt(mx / n) AS ep,
        CAST(FLOOR(sqrt(mx / n)) AS INT) AS whole,
        printf('%06x', CAST(FLOOR(
            (sqrt(mx / n) - FLOOR(sqrt(mx / n))) * 16777216) AS INT)) AS thr
      FROM c, m),
e AS (SELECT d.lang,
        r.whole + CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
                            < r.thr THEN 1 ELSE 0 END AS k
      FROM documents d JOIN r USING (lang))
SELECT r.lang AS lang, CAST(r.n AS BIGINT) AS n_docs,
       CAST(ee.s AS BIGINT) AS n_emitted, ROUND(r.ep, 6) AS epochs
FROM r JOIN (SELECT lang, SUM(k) AS s FROM e GROUP BY 1) ee USING (lang)
ORDER BY lang
"""


@register(
    "q_x41_epochmix",
    oracle=_EPOCH_ORACLE,
    doc="Multi-epoch mixture sampling WITH replacement — the "
    "upsampling twin of q_x40: language g with count n_g trains for "
    "epochs_g = sqrt(n_max/n_g) epochs, so the largest language runs "
    "exactly one epoch and smaller ones are replicated toward the "
    "alpha=0.5 tempered mix (the LM data-schedule rule where a rate of "
    "2.3 means two full copies plus a deterministic 30% third pass). "
    "Each doc emits floor(epochs) copies via explode(sequence(...)), "
    "plus one more when its md5 bucket clears the 2^24-quantized "
    "fractional threshold — same engine-portable acceptance as q_x40. "
    "The oracle short-circuits the explode to SUM(k), the same "
    "multiset at summary level. Scale: the epoch table is a per-"
    "language summary broadcast back; replication is map-side explode "
    "(output rows ~ epochs x corpus, the irreducible output), with the "
    "final agg the only shuffle.",
)
def q_x41_epochmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    nmax = counts.agg(F.max(F.col("n").cast("double")).alias("mx"))
    ep = F.sqrt(F.col("mx") / F.col("n"))
    rates = counts.crossJoin(F.broadcast(nmax)).select(
        "lang",
        "n",
        ep.alias("ep"),
        # ep >= 1 always (n <= n_max), so whole >= 1 and the
        # sequence(1, k) below never sees the descending k=0 trap
        F.floor(ep).alias("whole"),
        F.format_string(
            "%06x",
            F.floor((ep - F.floor(ep)) * _TEMP_BUCKETS).cast("int"),
        ).alias("thr"),
    )
    copies = (
        d.select("doc_id", "lang")
        .join(F.broadcast(rates.select("lang", "whole", "thr")), "lang")
        .select(
            "lang",
            (
                F.col("whole")
                + F.when(
                    F.substring(
                        F.md5(F.col("doc_id").cast("string")), 1, 6
                    )
                    < F.col("thr"),
                    1,
                ).otherwise(0)
            ).alias("k"),
        )
        .select("lang", F.explode(F.sequence(F.lit(1), F.col("k"))))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_emitted"))
    )
    return (
        rates.join(copies, "lang")
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            "n_emitted",
            F.round("ep", 6).alias("epochs"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Corpus selection under a global token budget
# ---------------------------------------------------------------------------

# quality-histogram resolution: the boundary bin (the only part that
# needs an exact per-doc ordering) holds ~1/_BUDGET_BINS of the corpus
_BUDGET_BINS = 1000
_BUDGET_FRAC = 0.6  # keep the best 60% of corpus characters
_BOUNDARY_SHARDS = 32  # id-range shards for the boundary bin's prefix sum

_BUDGET_ORACLE = """
WITH s AS (SELECT doc_id, n_chars,
        CAST(FLOOR(len(list_distinct(string_split(text, ' '))) /
                   len(string_split(text, ' ')) * 1000) AS INT) AS qbin
      FROM documents),
t AS (SELECT CAST(FLOOR(SUM(n_chars) * 0.6) AS BIGINT) AS budget FROM s),
o AS (SELECT s.*, SUM(n_chars) OVER (ORDER BY qbin DESC, doc_id) AS rs
      FROM s)
SELECT doc_id, qbin, CAST(n_chars AS BIGINT) AS n_chars
FROM o, t WHERE rs <= budget ORDER BY doc_id
"""


@register(
    "q_x42_tokenbudget",
    oracle=_BUDGET_ORACLE,
    doc="Corpus selection under a global token budget: keep the "
    "highest-quality documents (quality = distinct-word ratio) until "
    "the running character total reaches 60% of the corpus — the "
    "'select 1T tokens from 10T by quality' step of an LM data "
    "pipeline. The oracle is the obvious global-window running sum; "
    "the engine is the shape that survives 100 TB: quantize quality "
    "into 1000 histogram bins, COLLECT the bounded per-bin (chars, "
    "id-range) summary (<= bins+1 rows — control-flow scalars, never "
    "doc rows), pick the cutoff bin in exact integer arithmetic on "
    "the driver, keep WHOLE bins above the cutoff with one map-side "
    "comparison filter (no join, no doc shuffle), and run the exact "
    "per-doc running sum only inside the single boundary bin "
    "(~1/1000 of the corpus). "
    "r11: the boundary running sum is itself a SHARDED prefix sum "
    "(contiguous doc_id-range shards, per-shard cumsum in parallel, "
    "shard offsets folded in as a literal map) so even a "
    "quality-degenerate corpus with every doc in one bin never "
    "funnels through a single-partition window. "
    "Tie-break inside the boundary bin is doc_id order, so the "
    "selection is total and engine-portable.",
)
def q_x42_tokenbudget(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = F.split(F.col("text"), " ")
    qbin = F.floor(
        F.size(F.array_distinct(words)) / F.size(words) * _BUDGET_BINS
    ).cast("int")
    docs = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", qbin.alias("qbin")
    )
    return token_budget_select(docs)


# one-deep persist registry for token_budget_select (ADVICE r11): the
# previous call's cached input is released when the next call persists
# its own, bounding executor storage to one frame per session
_BUDGET_PERSISTED: list[DataFrame] = []


def token_budget_select(
    docs: DataFrame, frac: float = _BUDGET_FRAC
) -> DataFrame:
    """Histogram-cutoff budget selection over a prepared (doc_id,
    n_chars, qbin) frame — q_x42's engine, reusable as the SELECT
    stage of a composed curation pipeline (tools/bench_curation.py).
    See q_x42_tokenbudget's doc for the scale argument.

    The input is PERSISTED here (r11, measured at x100/500k docs): the
    selection has four independent consumers of the same 3-column
    projection (budget total, bin histogram, id-range stats, the final
    keep branches), and when the caller's frame carries an expensive
    lineage (q_x45/bench_curation feed the post-dedup anti-join with a
    text-splitting qbin), each consumer re-ran that lineage — caching
    the narrow projection once is the difference between one scan and
    four+ of the upstream pipeline. Lazy (populated by the first
    consumer), and the projection is 3 narrow columns, the same
    working-set class as q_x45's cached shingle postings."""
    # Release the PREVIOUS call's cached projection BEFORE persisting
    # the new one (ADVICE r11 + r12): Spark's CacheManager matches
    # entries by analyzed plan, not Python object, so when a repeated
    # call carries an identical lineage the old frame and the new one
    # share ONE cache entry — draining after persist would evict the
    # entry this call just registered and every consumer would silently
    # recompute from lineage. Draining first releases the old entry,
    # then the fresh persist registers cleanly (for identical plans it
    # simply re-registers the same entry). One-deep registry bounds the
    # session's leak to a single cached frame rather than one per call
    # (196-query sweeps call this via q_x42/q_x45/q_x45b plus composed
    # pipelines); a caller that still holds an older returned frame
    # just recomputes from its (valid) lineage on next use.
    while _BUDGET_PERSISTED:
        old = _BUDGET_PERSISTED.pop()
        try:
            old.unpersist()
        except Exception:
            # a frame from a stopped/replaced SparkSession in the same
            # process: nothing to release, its executors are gone
            pass
    docs = docs.persist()
    _BUDGET_PERSISTED.append(docs)
    # ONE aggregation pass over the persisted frame serves the bin
    # histogram AND the budget total AND the doc_id-range stats the
    # boundary sharding needs: sum(chars) over the bins equals
    # sum(n_chars) over the corpus exactly (integer sums), and the
    # global id range is min/max of the per-bin ranges.
    #
    # r13: the <= _BUDGET_BINS+1-row summary is COLLECTED and the
    # cutoff/boundary/budget arithmetic runs in Python (exact integer
    # sums, same IEEE floor(total * frac) product) instead of through
    # single-partition windows + three broadcast joins. The r12 form
    # re-ran the bins aggregation once per broadcast subtree (full-bin
    # semi-join, boundary join, shard offsets — 3-4 jobs each
    # re-reading the persisted projection, the exact repeat VERDICT
    # r12 flagged); the summary is bounded by the _BUDGET_BINS
    # constant, not by data size, so the collect is the same
    # bounded-by-construction driver traffic class as the capstones'
    # mass-router first() (guide §5: the driver holds control-flow
    # scalars, never data rows). Downstream, full bins become one
    # map-side comparison filter (no broadcast), and the boundary
    # bin's sharded prefix sum keeps its one window shuffle with the
    # shard offsets folded in as a literal map.
    hist = docs.groupBy("qbin").agg(
        F.sum("n_chars").alias("chars"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).collect()
    out_cols = ("doc_id", "qbin", "n_chars")
    if not hist:
        return docs.select(*out_cols).orderBy("doc_id")
    import math

    # qbin is non-null by construction at every caller (floor over a
    # non-null ratio); mirror the old window's DESC NULLS LAST order
    # anyway so a hypothetical null bin sorts where the join-based form
    # put it (where equi-join semantics silently excluded it)
    rows = sorted(
        hist, key=lambda r: (r.qbin is None, -(r.qbin if r.qbin is not None else 0))
    )
    total = sum(r.chars for r in rows)
    # identical to F.floor(F.sum("chars") * frac): long * double in
    # IEEE 754, floored — Python reproduces the same double product
    budget = int(math.floor(total * frac))
    lo = min(r.lo for r in rows)
    hi = max(r.hi for r in rows)
    cum = 0
    boundary = None  # (qbin, cum_before) of the bin straddling budget
    for r in rows:
        if cum + r.chars <= budget:
            cum += r.chars
        else:
            boundary = (r.qbin, cum)
            break
    if boundary is None:
        # budget >= total: every bin fits
        return docs.select(*out_cols).orderBy("doc_id")
    b_qbin, cum_before = boundary
    # bins are distinct and the cumulative sum is nondecreasing in
    # DESC qbin order, so the full set is exactly the qbins above the
    # boundary — a map-side comparison, no broadcast join
    kept_full = docs.filter(F.col("qbin") > F.lit(b_qbin)).select(*out_cols)
    # Exact doc_id-ordered running sum inside the boundary bin, SHARDED
    # (VERDICT r10 task 4): shard by contiguous doc_id RANGE (monotone
    # in the sort key, so per-shard sums compose), per-shard cumsum in
    # parallel — a quality-degenerate corpus (all docs in one bin)
    # spreads over _BOUNDARY_SHARDS reducers instead of one. The
    # whole-corpus id range is a valid superset of the bin's (empty
    # shards cost nothing). stride mirrors the old column expression:
    # long subtraction, double division, ceil.
    stride = max(1, math.ceil((hi - lo + 1) / _BOUNDARY_SHARDS))
    bdocs = docs.filter(F.col("qbin") == F.lit(b_qbin))
    sharded = bdocs.withColumn(
        "_shard",
        F.floor((F.col("doc_id") - F.lit(lo)) / F.lit(stride)).cast("int"),
    )
    # <= _BOUNDARY_SHARDS rows of driver traffic, by construction
    shard_tot = {
        r[0]: r[1]
        for r in sharded.groupBy("_shard")
        .agg(F.sum("n_chars").alias("_stot"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for s in sorted(shard_tot):
        offsets[s] = acc
        acc += shard_tot[s]
    off_expr = (
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
            ),
            F.col("_shard"),
        )
        if offsets
        else F.lit(0)
    )
    wsh = Window.partitionBy("_shard").orderBy("doc_id")
    kept_boundary = (
        sharded.withColumn("_local_rs", F.sum("n_chars").over(wsh))
        .filter(
            F.lit(cum_before) + off_expr + F.col("_local_rs")
            <= F.lit(budget)
        )
        .select(*out_cols)
    )
    return kept_full.unionByName(kept_boundary).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Repetition-based quality signals (Gopher-style)
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH words AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
), bigrams AS (
  SELECT a.doc_id, a.w || ' ' || b.w AS bg
  FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), bigram_stats AS (
  SELECT doc_id, COUNT(*) AS n_bg, COUNT(DISTINCT bg) AS n_bg_distinct
  FROM bigrams GROUP BY 1
), word_counts AS (
  SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY 1, 2
), word_stats AS (
  SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_w FROM word_counts GROUP BY 1
)
SELECT d.doc_id,
       ROUND(1.0 - bs.n_bg_distinct * 1.0 / bs.n_bg, 4) AS dup_bigram_frac,
       ROUND(ws.top_c * 1.0 / ws.n_w, 4) AS top_word_frac
FROM documents d
JOIN bigram_stats bs ON d.doc_id = bs.doc_id
JOIN word_stats ws ON d.doc_id = ws.doc_id
ORDER BY d.doc_id
"""


@register(
    "q_text_repetition",
    oracle=_REPETITION_ORACLE,
    doc="Repetition quality signals per doc (Gopher-style filters): "
    "duplicated-bigram fraction (pure array expressions, per-row) and "
    "top-single-word frequency fraction (explode + two-level agg; partial "
    "aggregation bounds shuffle rows at per-doc vocabulary).",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bigrams = word_ngrams(F.col("text"), 2)
    per_row = d.select(
        "doc_id",
        F.round(
            # denominator = word_count - 1 == size(bigrams); deriving it
            # from the split avoids materializing the bigram array twice
            F.lit(1.0)
            - F.size(F.array_distinct(bigrams))
            / (F.size(F.split("text", " ")) - 1),
            4,
        ).alias("dup_bigram_frac"),
    )
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    word_stats = (
        words.groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(F.max("c") / F.sum("c"), 4).alias("top_word_frac"),
        )
    )
    # plain orderBy: per_row feeds the doc_id SMJ shuffle, so the sort's
    # sampling pass reuses it — a barrier here only adds an exchange
    return per_row.join(word_stats, "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus token statistics: document frequency / IDF
# ---------------------------------------------------------------------------


@register(
    "q_x10_idf",
    oracle=(
        "WITH doc_words AS ("
        "  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w"
        "  FROM documents"
        "), df AS ("
        "  SELECT w, COUNT(*) AS df FROM doc_words GROUP BY 1"
        "), n AS (SELECT COUNT(*) AS n_docs FROM documents) "
        "SELECT w, df, ROUND(LN(n_docs * 1.0 / df), 4) AS idf "
        "FROM df CROSS JOIN n ORDER BY df DESC, w LIMIT 20"
    ),
    doc="Corpus document-frequency + IDF, top-20 most-common tokens. "
    "array_distinct BEFORE explode keeps shuffle at one row per (doc, "
    "word); the corpus count broadcasts as a one-row dimension; top-20 "
    "is TakeOrderedAndProject (no global sort).",
)
def q_x10_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    doc_words = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    df = doc_words.groupBy("w").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        df.crossJoin(F.broadcast(n))
        .select("w", "df", F.round(F.log(F.col("n_docs") / F.col("df")), 4).alias("idf"))
        .orderBy(F.desc("df"), "w")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Exact-size deterministic per-group sampling
# ---------------------------------------------------------------------------

SAMPLE_K = 40  # documents kept per language


@register(
    "q_x13_sample",
    oracle=(
        "SELECT doc_id, lang FROM ("
        "SELECT doc_id, lang, ROW_NUMBER() OVER ("
        "PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn "
        f"FROM documents) WHERE rn <= {SAMPLE_K} ORDER BY doc_id"
    ),
    doc=f"Deterministic uniform sample of EXACTLY {SAMPLE_K} documents per "
    "language: rank by md5(doc_id) inside each language and keep the "
    f"first {SAMPLE_K}. Unlike rate-based mixing (q_x9_mix) this "
    "guarantees exact output sizes, and unlike rand() it is reproducible "
    "across runs/engines — the hash IS the shuffle. One window shuffle "
    "partitioned by group; at 100 TB each language's rank runs on its "
    "own reducers and skewed groups split via the standard two-phase "
    "top-k (per-partition head then merge) that Spark's window + filter "
    "already approximates with partial TakeOrdered pushdown.",
)
def q_x13_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_K)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Overlapping document chunking (context-window preparation)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 20  # words per chunk
CHUNK_STRIDE = 10  # start-to-start distance; < CHUNK_SIZE -> overlap

_CHUNK_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), s AS (
  SELECT doc_id, words,
         unnest(range(1, len(words) + 1, {CHUNK_STRIDE})) AS start
  FROM w
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
       array_to_string(words[start : start + {CHUNK_SIZE} - 1], ' ') AS chunk_text,
       CAST(least({CHUNK_SIZE}, len(words) - start + 1) AS INT) AS n_tokens
FROM s
ORDER BY doc_id, chunk_id
"""


@register(
    "q_x14_chunk",
    oracle=_CHUNK_ORACLE,
    doc=f"Overlapping fixed-size chunking for context-window prep: every "
    f"document becomes ceil(words/{CHUNK_STRIDE}) chunks of up to "
    f"{CHUNK_SIZE} words starting every {CHUNK_STRIDE} words (50% "
    "overlap). Pure column expressions — sequence of start offsets -> "
    "transform(slice) -> posexplode — so the operator is map-only: no "
    "shuffle, scales with scan bandwidth, and output partitioning "
    "inherits input partitioning (each task chunks its own documents). "
    "The tail chunk is kept short rather than padded; padding/packing "
    "to a fixed token budget is q_x11_pack's job downstream.",
)
def q_x14_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    words = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.size(words), F.lit(CHUNK_STRIDE))
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice(words, s, CHUNK_SIZE), " ")
    )
    return (
        d.select(
            "doc_id",
            F.size(words).alias("n_words"),
            F.posexplode(chunks).alias("chunk_id", "chunk_text"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "chunk_text",
            F.least(
                F.lit(CHUNK_SIZE),
                F.col("n_words") - F.col("chunk_id") * CHUNK_STRIDE,
            ).alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (re-aggregate partials, not raw data)
# ---------------------------------------------------------------------------

INCR_CUTOFF = "2000-01-01"  # base = orders before, delta = orders on/after


def partial_order_aggs(df: DataFrame) -> DataFrame:
    """Partial-aggregate state per o_orderpriority: (pc, ps). This is
    the table a production pipeline MATERIALIZES per ingest batch; it
    is combinable forever after (sums of sums)."""
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("pc"), F.sum("o_totalprice").alias("ps")
    )


def combine_partials(*partials: DataFrame) -> DataFrame:
    """Fold any number of partial-aggregate tables into final
    (n_orders, total, avg_price) per group — cost O(sum of partial
    sizes), independent of raw-data size."""
    acc = partials[0]
    for p in partials[1:]:
        acc = acc.unionByName(p)
    return (
        acc.groupBy("o_orderpriority")
        .agg(F.sum("pc").alias("n_orders"), F.sum("ps").alias("total_raw"))
        .select(
            "o_orderpriority",
            "n_orders",
            F.round("total_raw", 2).alias("total"),
            F.round(F.col("total_raw") / F.col("n_orders"), 2).alias("avg_price"),
        )
    )


@register(
    "q_x15_incragg",
    oracle=(
        "SELECT o_orderpriority, COUNT(*) AS n_orders, "
        "ROUND(SUM(o_totalprice), 2) AS total, "
        "ROUND(SUM(o_totalprice) / COUNT(*), 2) AS avg_price "
        "FROM orders GROUP BY 1 ORDER BY 1"
    ),
    doc="Incremental aggregate maintenance: the per-group aggregate of "
    "base ∪ delta is computed by COMBINING the two partial-aggregate "
    "tables (sum of sums, sum of counts; avg re-derived from them), "
    f"never re-touching base rows — here base is orders before "
    f"{INCR_CUTOFF} standing in for the already-aggregated 100 TB "
    "history and delta is the new arrivals. The oracle aggregates the "
    "full table directly, pinning the algebraic-decomposition identity. "
    "At scale this is the difference between an O(delta) nightly job "
    "and an O(history) one; only algebraic aggregates (sum/count/min/"
    "max/avg-via-sum-count) decompose this way — holistic ones "
    "(exact percentile) need sketch state instead (see q_a11_hll).",
)
def q_x15_incragg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cutoff = F.lit(INCR_CUTOFF).cast("timestamp")
    base = partial_order_aggs(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial_order_aggs(o.filter(F.col("o_orderdate") >= cutoff))
    return combine_partials(base, delta).orderBy("o_orderpriority")


@register(
    "q_x20_tokfreq",
    oracle=(
        "WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w "
        "FROM documents), "
        "freq AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1), "
        "tot AS (SELECT SUM(c) AS n FROM freq) "
        "SELECT doc_id, COUNT(*) AS n_tokens, MIN(c) AS rarest_count, "
        "ROUND(SUM(c) * 1000000.0 / (MAX(n) * COUNT(*)), 4) AS avg_freq_ppm "
        "FROM tok JOIN freq USING (w), tot GROUP BY doc_id ORDER BY 1"
    ),
    doc="Corpus-statistics document scoring (unigram-LM proxy): each "
    "doc's average token corpus-frequency (ppm) and its rarest token's "
    "count — the common-wordness / OOV-risk signals a pretraining "
    "quality filter thresholds on. Two shuffles (token count, doc "
    "regroup) + the corpus total as a one-row broadcast; the frequency "
    "table joins back on the token (at 100 TB the head of that table "
    "is the classic skew key — salt or AQE-split it). Determinism: all "
    "aggregates are INTEGER sums/mins (exact at any partition order); "
    "the single double division happens once per row at the end.",
)
def q_x20_tokfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    return (
        tok.join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.min("c").alias("rarest_count"),
            F.round(
                F.sum("c") * 1000000.0 / (F.max("n") * F.count("*")), 4
            ).alias("avg_freq_ppm"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Passage-level exact span dedup (C4/RefinedWeb-style duplicated spans)
# --------------------------------------------------------------------------

SPAN_WORDS = 10  # non-overlapping passage length in words


@register(
    "q_x23_spandedup",
    oracle=(
        "WITH toks AS ("
        " SELECT doc_id, string_split(text, ' ') AS t,"
        f" len(string_split(text, ' ')) // {SPAN_WORDS} AS np"
        " FROM documents"
        "), plist AS ("
        " SELECT doc_id, list_transform(range(0, np),"
        f" i -> array_to_string(t[i*{SPAN_WORDS}+1 : i*{SPAN_WORDS}+{SPAN_WORDS}], ' ')) AS passages"
        " FROM toks"
        "), pass AS ("
        " SELECT doc_id, CAST(unnest(range(0, len(passages))) AS INT) AS p,"
        " unnest(passages) AS passage FROM plist"
        "), marked AS ("
        " SELECT doc_id, p,"
        " (row_number() OVER (PARTITION BY passage ORDER BY doc_id, p) > 1) AS is_dup"
        " FROM pass"
        ") SELECT doc_id, COUNT(*) AS n_passages,"
        " CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,"
        " ROUND(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS dup_frac"
        " FROM marked GROUP BY doc_id ORDER BY doc_id"
    ),
    doc=f"Passage-level exact span dedup: each document is cut into "
    f"non-overlapping {SPAN_WORDS}-word passages; an occurrence is a "
    "duplicate iff an earlier (doc_id, position) emitted the same "
    "passage corpus-wide (the C4/RefinedWeb 'remove duplicated spans' "
    "primitive, reported here as per-doc dup fraction). Plan: JVM "
    "transform/slice builds passages (no Python), posexplode, ONE "
    "shuffle keyed by passage for the first-occurrence window, one "
    "groupBy doc. Scale: passage keys are near-unique so the shuffle "
    "is skew-free; at 100 TB hash the passage to a 128-bit digest "
    "first (as q_x1 does for whole docs) so shuffle rows stay "
    "constant-width instead of carrying full text.",
)
def q_x23_spandedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("t"),
    ).withColumn("np", (F.size("t") / SPAN_WORDS).cast("int"))
    passages = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("np") - 1),
                lambda i: F.array_join(
                    F.slice(F.col("t"), i * SPAN_WORDS + 1, SPAN_WORDS), " "
                ),
            )
        ).alias("p", "passage"),
    )
    w = Window.partitionBy("passage").orderBy("doc_id", "p")
    marked = passages.withColumn("is_dup", F.row_number().over(w) > 1)
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(F.col("is_dup").cast("int")).alias("n_dup"),
            F.round(
                F.sum(F.col("is_dup").cast("int")) / F.count("*"), 6
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Percentile winsorization (outlier clipping for feature columns)
# --------------------------------------------------------------------------

WINSOR_LO = 0.05
WINSOR_HI = 0.95


@register(
    "q_x25_winsorize",
    oracle=(
        "WITH q AS (SELECT lang, "
        f"quantile_cont(n_chars, {WINSOR_LO}) AS lo, "
        f"quantile_cont(n_chars, {WINSOR_HI}) AS hi "
        "FROM documents GROUP BY 1) "
        "SELECT d.lang, COUNT(*) AS n, "
        "ROUND(AVG(LEAST(GREATEST(d.n_chars, q.lo), q.hi)), 4) AS clipped_mean, "
        "CAST(SUM(CASE WHEN d.n_chars < q.lo OR d.n_chars > q.hi THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_clipped "
        "FROM documents d JOIN q USING (lang) GROUP BY d.lang ORDER BY d.lang"
    ),
    doc=f"Percentile winsorization: per-language p{int(WINSOR_LO*100)}/"
    f"p{int(WINSOR_HI*100)} bounds on document length, values clipped "
    "into the band — the outlier treatment feature pipelines apply "
    "before normalization (vs dropping rows, which shifts the "
    "distribution). Two passes by necessity (bounds, then clip): the "
    "per-group bound table is group-cardinality (5 rows) and "
    "broadcasts back onto the scan, so the fact table shuffles only "
    "for its own final groupBy. Exact interpolated percentile both "
    "sides; approx_percentile is the documented 100 TB swap (q_a7).",
)
def q_x25_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("lang", "n_chars")
    q = d.groupBy("lang").agg(
        F.expr(f"percentile(n_chars, {WINSOR_LO}D)").alias("lo"),
        F.expr(f"percentile(n_chars, {WINSOR_HI}D)").alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("n_chars").cast("double"), F.col("lo")), F.col("hi"))
    return (
        d.join(F.broadcast(q), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(clipped), 4).alias("clipped_mean"),
            F.sum(
                (
                    (F.col("n_chars") < F.col("lo"))
                    | (F.col("n_chars") > F.col("hi"))
                ).cast("int")
            ).alias("n_clipped"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Contamination overlap scoring (graded decontamination)
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = f"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
), grams AS (
  SELECT DISTINCT a.doc_id,
         a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w || ' ' || e.w AS gram
  FROM words a
  JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN words c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
  JOIN words d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3
  JOIN words e ON a.doc_id = e.doc_id AND e.pos = a.pos + 4
), bench_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0
)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       COUNT(*) FILTER (WHERE b.gram IS NOT NULL) AS n_matched,
       ROUND(COUNT(*) FILTER (WHERE b.gram IS NOT NULL)
             / CAST(COUNT(*) AS DOUBLE), 4) AS overlap_frac
FROM grams g
LEFT JOIN bench_grams b ON g.gram = b.gram
WHERE g.doc_id % {BENCH_MOD} <> 0
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


@register(
    "q_x26_overlap",
    oracle=_OVERLAP_ORACLE,
    doc="Graded contamination scoring: for every corpus document, the "
    f"FRACTION of its distinct word {DECONTAM_N}-grams that appear in "
    f"the benchmark subset (doc_id % {BENCH_MOD} = 0) — the score "
    "behind threshold-based decontamination policies (q_x8_decontam is "
    "the binary any-overlap special case; real pipelines drop at "
    ">X% overlap and audit the rest). Plan: distinct grams per doc "
    "(array_distinct BEFORE explode bounds shuffle rows at per-doc "
    "vocabulary), broadcast LEFT join against the tiny benchmark gram "
    "set, one conditional-count groupBy per doc. Scale: the corpus "
    "side is never shuffled except by its own doc_id groupBy; the "
    "benchmark side stays broadcast-sized by nature (eval suites vs "
    "a 100 TB corpus).",
)
def q_x26_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    grams, bench_grams = benchmark_gram_sets(d)
    return (
        grams.filter(~F.col("is_bench"))
        .join(
            F.broadcast(bench_grams.withColumn("matched", F.lit(1))),
            "gram",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("matched").alias("n_matched"),
            F.round(
                F.count("matched") / F.count("*").cast("double"), 4
            ).alias("overlap_frac"),
        )
        .transform(barrier_sort("doc_id"))
    )


# ---------------------------------------------------------------------------
# CCNet-style per-language quality bucketing
# ---------------------------------------------------------------------------

QBUCKET_N = 3  # head / middle / tail tertiles
_QBUCKET_NAMES = "CASE bkt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"


@register(
    "q_x27_qbucket",
    oracle=(
        "WITH scored AS ("
        " SELECT doc_id, lang,"
        " len(text) / CAST(len(string_split(text, ' ')) AS DOUBLE)"
        "   AS score"
        " FROM documents"
        "), bucketed AS ("
        " SELECT lang, score,"
        f" ntile({QBUCKET_N}) OVER (PARTITION BY lang"
        "   ORDER BY score DESC, doc_id) AS bkt"
        " FROM scored"
        ") SELECT lang, "
        f"{_QBUCKET_NAMES} AS bucket, "
        "COUNT(*) AS n_docs, ROUND(AVG(score), 4) AS avg_score "
        "FROM bucketed GROUP BY lang, bkt ORDER BY lang, "
        f"{_QBUCKET_NAMES}"
    ),
    doc="CCNet-style quality bucketing: per language, rank documents "
    "by a cheap quality proxy (mean token length = chars/words — the "
    "stand-in for a perplexity score, which needs a model this "
    "container doesn't ship) and split into head/middle/tail "
    f"tertiles (ntile({QBUCKET_N})), then report bucket sizes and "
    "mean scores. This is the partition step pretraining pipelines "
    "use to oversample 'head' text. Plan: one window shuffle on lang "
    "(ntile over a per-lang sort) + an alphabet-sized groupBy. Scale: "
    "exact ntile needs the per-lang global sort; at 100 TB swap the "
    "tertile boundaries for approx_percentile cutoffs (q_a7 pattern) "
    "and bucket by comparison — the exact form here is that swap's "
    "oracle. Deterministic tie-break by doc_id keeps both engines' "
    "tile assignment identical.",
)
def q_x27_qbucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    scored = d.select(
        "doc_id",
        "lang",
        (
            F.length("text")
            / F.size(F.split(F.col("text"), " ")).cast("double")
        ).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), "doc_id")
    bucket = (
        F.when(F.col("bkt") == 1, "head")
        .when(F.col("bkt") == 2, "middle")
        .otherwise("tail")
    )
    return (
        scored.withColumn("bkt", F.ntile(QBUCKET_N).over(w))
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Per-domain document capping (web-corpus domain balancing)
# ---------------------------------------------------------------------------

DOMCAP_K = 30  # max documents kept per domain


@register(
    "q_x29_domcap",
    oracle=(
        "WITH ranked AS ("
        " SELECT source || '.example.com' AS host, n_chars,"
        " row_number() OVER (PARTITION BY source"
        "   ORDER BY n_chars DESC, doc_id) AS rk"
        " FROM documents"
        ") SELECT host, COUNT(*) AS n_total, "
        f"COUNT(*) FILTER (WHERE rk <= {DOMCAP_K}) AS n_kept, "
        f"COUNT(*) FILTER (WHERE rk > {DOMCAP_K}) AS n_dropped, "
        f"ROUND(COUNT(*) FILTER (WHERE rk <= {DOMCAP_K})"
        " / CAST(COUNT(*) AS DOUBLE), 4) AS keep_frac "
        "FROM ranked GROUP BY host ORDER BY host"
    ),
    doc=f"Per-domain capping with accounting: keep at most {DOMCAP_K} "
    "documents per host (priority = longest first, doc_id tiebreak) "
    "and report kept/dropped counts and the retention fraction per "
    "domain — the Common-Crawl-style balancing step that stops a "
    "single boilerplate-heavy domain from dominating a pretraining "
    "mix, with the accounting a pipeline dashboard needs. One window "
    "shuffle on the domain key + an alphabet-sized groupBy. Scale: "
    "identical to q_x13's rank shape; hot domains are the skew risk — "
    "AQE skew-split applies, and the cap itself is what keeps any "
    "domain's OUTPUT bounded no matter its input share.",
)
def q_x29_domcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    kept = F.col("rk") <= DOMCAP_K
    return (
        d.withColumn("rk", F.row_number().over(w))
        .groupBy(
            F.concat(F.col("source"), F.lit(".example.com")).alias("host")
        )
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.count(F.when(~kept, 1)).alias("n_dropped"),
            F.round(
                F.count(F.when(kept, 1)) / F.count("*").cast("double"), 4
            ).alias("keep_frac"),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# Multi-signal quality gate with funnel accounting (round 4)
# ---------------------------------------------------------------------------

GATE_MIN_TOKENS = 15
GATE_MIN_ENTROPY = 2.6
GATE_MIN_QUALITY = 0.55

_GATE_ORACLE = f"""
WITH tf AS MATERIALIZED (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY doc_id, w
), ent AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         -SUM((c * 1.0 / t) * ln(c * 1.0 / t)) AS h
  FROM (SELECT doc_id, w, c, SUM(c) OVER (PARTITION BY doc_id) AS t FROM tf)
  GROUP BY doc_id
), q AS MATERIALIZED (
  SELECT doc_id, 1.0 / (1.0 + exp(-(
    -1.2 + 0.004 * len(string_split(text, ' '))
    + 0.35 * (length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')))
    + 1.8 * (len(list_filter(string_split(text, ' '),
        w -> list_contains(['the', 'a', 'an', 'of', 'to', 'and', 'in', 'is', 'it', 'for'], w))) * 1.0
        / len(string_split(text, ' ')))
    - 2.5 * (len(list_filter(string_split(text, ''),
        c -> c >= 'A' AND c <= 'Z')) * 1.0 / length(text))
  ))) AS quality
  FROM documents
)
SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
  SELECT CASE
    WHEN ent.n_tokens < {GATE_MIN_TOKENS} THEN 'too_short'
    WHEN ent.h < {GATE_MIN_ENTROPY} THEN 'low_entropy'
    WHEN q.quality < {GATE_MIN_QUALITY} THEN 'low_quality'
    ELSE 'kept' END AS verdict
  FROM ent JOIN q USING (doc_id)
) GROUP BY verdict ORDER BY verdict
"""


@register(
    "q_x36_qualitygate",
    oracle=_GATE_ORACLE,
    doc="Multi-signal quality gate with funnel accounting: each doc is "
    "attributed to the FIRST rule it fails — too_short (tokens < "
    f"{GATE_MIN_TOKENS}), low_entropy (Shannon entropy < "
    f"{GATE_MIN_ENTROPY}, q_x35's signal), low_quality (linear "
    f"classifier score < {GATE_MIN_QUALITY}, q_x17's model) — or "
    "'kept'. The FineWeb/RefinedWeb-style filter funnel: what a "
    "curation run reports so you can see which rule eats the corpus. "
    "Scale: entropy is the only shuffling signal (per-doc vocab agg); "
    "the classifier is map-only; one equi-join on doc_id composes "
    "them; the verdict table is O(#rules).",
)
def q_x36_qualitygate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import QC_STOPWORDS, QC_W

    d = _docs(spark, sf_dir)
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c") / F.col("t")
    ent = (
        tf.withColumn("t", t)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            (-F.sum(p * F.log(p))).alias("h"),
        )
    )
    words = F.split("text", " ")
    n_words = F.size(words)
    mean_wlen = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_words
    stop_ratio = (
        F.size(F.filter(words, lambda w: w.isin(*QC_STOPWORDS))) / n_words
    )
    upper_ratio = F.size(
        F.filter(F.split(F.col("text"), ""), lambda c: (c >= "A") & (c <= "Z"))
    ) / F.length("text")
    score = 1.0 / (
        1.0
        + F.exp(
            -(
                F.lit(QC_W[0])
                + QC_W[1] * n_words
                + QC_W[2] * mean_wlen
                + QC_W[3] * stop_ratio
                + QC_W[4] * upper_ratio
            )
        )
    )
    q = d.select("doc_id", score.alias("quality"))
    verdict = (
        F.when(F.col("n_tokens") < GATE_MIN_TOKENS, "too_short")
        .when(F.col("h") < GATE_MIN_ENTROPY, "low_entropy")
        .when(F.col("quality") < GATE_MIN_QUALITY, "low_quality")
        .otherwise("kept")
    )
    return (
        ent.join(q, "doc_id")
        .groupBy(verdict.alias("verdict"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("verdict")
    )
