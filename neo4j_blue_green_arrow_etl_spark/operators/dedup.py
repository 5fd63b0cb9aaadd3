"""Deduplication operators for the documents table.

Core to the 100 TB training-data-pipeline mission (BASELINE.json
north_star): exact dedup, n-gram Jaccard near-dup (oracle-checkable),
MinHash+LSH (scalable candidate generation), SimHash.

Design for scale:
- Exact dedup is one hash-shuffle groupBy on the text (at 100 TB,
  group on a digest — ``sha2(text)`` — so shuffle rows are ~64 bytes,
  not document bodies).
- All-pairs n-gram Jaccard is the CORRECTNESS baseline: it joins on
  shared shingles so only docs sharing at least one shingle ever meet
  (no cartesian), but its worst case is still quadratic within a
  shingle bucket. It is the oracle; MinHash-LSH is the scale path.
- MinHash-LSH: k seeded xxhash64 min-hashes per doc, banded into
  signatures; candidate pairs come from an equi-join on
  (band_id, band_hash) — pure shuffle joins, no UDFs, no cartesian.
  Everything stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relational import barrier_sort, register, rescue_parallelism

SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5
MINHASH_K = 32  # signature length
MINHASH_BANDS = 8  # 8 bands x 4 rows/band
SIMHASH_BITS = 64
# Hamming acceptance radius for simhash candidates. 6 is chosen so the
# band-PAIR probe structure below (8 bands of 8 bits, all C(8,2)=28
# two-band concatenations as 16-bit keys) gives a pigeonhole
# guarantee: <=6 bit flips touch at most 6 of the 8 bands, so at least
# 2 bands — hence at least one probed band pair — survive untouched.
# The guarantee is exact for buckets at or under MINHASH_BUCKET_CAP;
# oversized buckets switch to star candidates (lsh_band_candidates),
# which preserve connected components via the bucket rep rather than
# enumerating every member-member pair, so a Hamming<=6 pair inside a
# hot bucket where neither doc is the rep can be missed — the recall
# floor below is pinned empirically, not by the pigeonhole argument.
# Radius choice (r7): the 28 two-band probe keys REACH 254/256 of the
# exact-Jaccard>=0.5 truth pairs at sf0.1 (a 2-band collision exists),
# so the Hamming filter — not candidate generation — was the recall
# limiter: radius 6 captured 0.84 (every miss measured at Hamming
# 7-11), radius 10 captures 0.984 with false positives still
# impossible (exact-Jaccard verify). Capture is pigeonhole-GUARANTEED
# only to Hamming <= 6 (6 flipped bits touch <= 6 of 8 bands, leaving
# a probed 2-band key intact); 7-10 ride the empirical tendency of
# near-dup bit flips to cluster within bands. Cost: a wider radius
# admits more candidates into the Jaccard verify — measured within
# the <= 5 s budget at sf0.1 (BENCH_LOCAL_r7).
SIMHASH_MAX_HAMMING = 10
SIMHASH_BANDS = 8  # 8-bit bands; probed as 28 two-band 16-bit keys
# LSH buckets above this size switch from all-pairs to star candidates
# (every member vs the bucket's min-id representative) — see
# lsh_band_candidates. SCALE_PROBE r3 measured superlinear runtime from
# within-bucket pair growth; this caps it.
MINHASH_BUCKET_CAP = 256


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every consumer fans the text out ~50x (shingle explode + hashing)
    # before its first exchange, so an undersized scan serializes the
    # hot path on one core — rescue_parallelism is identity at scale
    # (r12; measured 2.29s -> 0.85s on the exact-tier pair pipeline)
    return rescue_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id"
    )


def shingle_hash_arrays(
    df: DataFrame, text_col: str = "text", n: int = SHINGLE_N
) -> DataFrame:
    """(doc_id, shset array<bigint>) — distinct HASHED word 3-grams per
    document, built entirely map-side with numeric combination.

    The numeric fast path for the hash-candidate tiers (minhash,
    simhash): each word hashes once (xxhash64), then a 3-gram id is
    xxhash64 over the THREE WORD HASHES — no string concatenation, no
    post-explode "count the spaces" filter (partial trailing grams are
    dropped by slicing to the first len-2 positions). The mapping
    string-3-gram -> id is injective modulo 64-bit collisions, so set
    intersections/sizes over these ids equal the string-shingle sets
    the q_dedup_ngram oracle defines — same guarantee the previous
    xxhash64(string) carried, ~2x cheaper per element (measured at
    sf0.1: the concat_ws build plus the per-posting split-filter was
    ~0.9 s of every hash-tier query). Oracle-gated queries that must
    reproduce DuckDB string semantics (q_dedup_ngram, q_x44 family)
    keep the string `shingles()` path.

    Scale: all-narrow (no shuffle); downstream consumers aggregate or
    explode this array, so the only thing that ever crosses an exchange
    is per-doc partial-aggregate state, never raw postings."""
    assert n == 3, "shingle builder is specialized for 3-grams"
    wh = F.transform(F.split(F.col(text_col), " "), lambda w: F.xxhash64(w))
    sz = F.size(wh)
    w2 = F.slice(wh, 2, F.greatest(sz - 1, F.lit(0)))
    w3 = F.slice(wh, 3, F.greatest(sz - 2, F.lit(0)))
    g2 = F.zip_with(wh, w2, lambda x, y: F.xxhash64(x, y))
    g3 = F.zip_with(g2, w3, lambda xy, z: F.xxhash64(xy, z))
    grams = F.slice(g3, 1, F.greatest(sz - 2, F.lit(0)))
    return df.select("doc_id", F.array_distinct(grams).alias("shset"))


def shingle_hash_arrays_strfam(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, shset array<bigint>) with ids = xxhash64 of the STRING
    3-gram — the same feature-hash family `shingles()` + xxhash64
    produces, built narrow (no aggregation).

    q_dedup_simhash uses this instead of the cheaper numeric family:
    the simhash fingerprint is a function of the feature-hash bits, and
    re-drawing the family re-rolls every marginal pair's Hamming
    distance — measured at sf0.1, the numeric family dropped verified
    recall 0.9844 -> 0.9648 (misses at Hamming 11-15 with <= 1 clean
    band: structurally unreachable by ANY radius under 2-of-8-band
    probing, where 12 scattered flips leave E[clean bands] ~= 1.6) and
    a 128-bit/32-bit-key variant dropped it to 0.8164. Keeping the r7/8
    family keeps the fingerprints — and the recall — bit-identical.
    Costs one string concat pass over the gram array (~0.4 s at sf0.1)
    vs shingle_hash_arrays; everything downstream is family-agnostic."""
    words = F.split(F.col(text_col), " ")
    sz = F.size(words)
    w2 = F.slice(words, 2, F.greatest(sz - 1, F.lit(0)))
    w3 = F.slice(words, 3, F.greatest(sz - 2, F.lit(0)))
    grams = F.zip_with(
        F.zip_with(words, w2, lambda x, y: F.concat_ws(" ", x, y)),
        w3,
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    valid = F.slice(grams, 1, F.greatest(sz - 2, F.lit(0)))
    return df.select(
        "doc_id",
        F.array_distinct(
            F.transform(valid, lambda g: F.xxhash64(g))
        ).alias("shset"),
    )


def shingle_profiles(arr: DataFrame, aggs: list) -> DataFrame:
    """Per-doc profile (doc_id, shset array<bigint>, *aggs) from a
    shingle_hash_arrays table.

    The declarative aggregates run over the EXPLODED postings (codegen
    hash aggregation with map-side partial combine — measured faster
    than interpreted per-element array HOFs for 32-wide aggregate
    lists), then re-join the narrow array table on doc_id. The
    aggregation output is hash-partitioned by doc_id, so the join adds
    one exchange of the narrow (doc_id, shset) rows — the same bytes a
    collect_set partial would have shuffled, without forcing the whole
    aggregation through ObjectHashAggregateExec's sort-based fallback
    (a mixed object+declarative agg measured ~1 s slower at sf0.1)."""
    arr = arr.cache()  # two consumers: the exploded agg + the join side
    sh = arr.select("doc_id", F.explode("shset").alias("shingle"))
    decl = sh.groupBy("doc_id").agg(*aggs)
    return decl.join(arr, "doc_id")


def lsh_band_candidates(bands: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Candidate pairs (a < b) from an LSH band table (doc_id, band, bh).

    Buckets up to MINHASH_BUCKET_CAP emit ALL within-bucket pairs (the
    textbook LSH candidate set). An oversized bucket — near-identical
    boilerplate at web scale routinely puts 10^5+ docs in one bucket —
    would emit n^2 pairs from one join key, the superlinear blow-up
    SCALE_PROBE measured; those buckets instead emit STAR candidates:
    every member paired with the bucket's min-id representative, n-1
    pairs. The star preserves what dedup pipelines consume — connected
    components stay identical, because every member still links to the
    rep after verification when the bucket is genuinely near-duplicate
    — at the cost of not enumerating every member-member pair of a
    giant bucket (the pair LIST within capped buckets is intentionally
    thinned; tests pin both the linear candidate volume and the
    unchanged clustering).

    SHUFFLE SHAPE (r9 fusion): bucket size and representative come from
    two window functions over ONE partitionBy(band, bh) — a single
    exchange that ALSO pre-partitions and pre-sorts the table for the
    pair self-join, which therefore runs as a zero-exchange, zero-sort
    sort-merge join over the cached windowed table (the r8 form paid a
    groupBy + a re-join + two self-join exchanges for the same result).
    The representative's carried columns ride a min(struct(doc_id, ..))
    over the same window — doc_id is unique, so struct-min == the
    min-id row.

    `carry` names extra per-DOC columns on `bands` (e.g. a simhash
    fingerprint) returned per pair as {c}_a / {c}_b, letting callers
    filter pairs inline instead of re-joining per-doc tables — at 100TB
    that trades a few carried bytes in the one posting shuffle against
    two extra full-table join exchanges.

    CACHE OWNERSHIP: the windowed table cache is intentionally left
    alive — unpersisting here would evict it before the lazily-returned
    candidate plan ever executes. Long-lived sessions that invoke dedup
    queries repeatedly must clear it between queries (bench.py calls
    spark.catalog.clearCache() after each timed query; the CacheManager
    dedupes identical lineages so repeated calls hold ONE copy)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bh")
    rep = F.min(F.struct(F.col("doc_id"), *[F.col(c) for c in carry])).over(w)
    tagged = (
        bands.withColumn("bn", F.count(F.lit(1)).over(w))
        .withColumn("_rep", rep)
        .cache()
    )
    small = tagged.filter(F.col("bn") <= MINHASH_BUCKET_CAP)
    cols = ["a", "b", *[f"{c}_a" for c in carry], *[f"{c}_b" for c in carry]]
    l = small.select(
        "band",
        "bh",
        F.col("doc_id").alias("a"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    r = small.select(
        "band",
        "bh",
        F.col("doc_id").alias("b"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    all_pairs = (
        l.join(r, ["band", "bh"]).filter(F.col("a") < F.col("b")).select(*cols)
    )
    star = tagged.filter(
        (F.col("bn") > MINHASH_BUCKET_CAP)
        & (F.col("doc_id") != F.col("_rep.doc_id"))
    ).select(
        F.col("_rep.doc_id").alias("a"),
        F.col("doc_id").alias("b"),
        *[F.col(f"_rep.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    # carried columns are deterministic per doc, so the distinct still
    # dedupes exactly on the (a, b) pair identity
    return all_pairs.unionByName(star.select(*cols)).distinct()


def jaccard_verify_sets(
    candidates: DataFrame, prof: DataFrame, keep=(), barrier: bool = True
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (a, b, *keep)
    against per-doc shingle-SET profiles (doc_id, shset sorted
    array<bigint>): returns (doc_a, doc_b, *keep, jaccard) for pairs
    clearing JACCARD_THRESHOLD — the step that makes every
    hash-candidate tier (minhash, simhash) emit ZERO false positives
    relative to the q_dedup_ngram truth definition.

    SHUFFLE SHAPE (r9 fusion): two equi-joins attach each side's set
    array, then |intersection| / sizes compute INLINE per row
    (array_intersect over distinct hashed shingles == the posting-join
    COUNT(*) the r8 form produced). The r8 posting-table verify paid 5
    exchanges — re-shuffling the FULL corpus posting table by doc_id
    and (doc_id, shingle) plus a pair groupBy plus two size joins —
    proportional to corpus postings even when candidates were few. This
    form's shuffles move only the candidate-pair rows; the profile side
    is already hash-partitioned by doc_id from the aggregation that
    built it (cache preserves partitioning), so its joins add no
    exchange. A doc's set array is bounded by its own length (~10^3-4
    longs for a web page), so carrying it one join hop is O(pair
    output), not O(corpus).

    ``barrier``: barrier_sort re-materializes the finished rows before
    the range exchange so orderBy's sampling pass cannot re-run the
    upstream; with a CHEAP upstream (broadcast joins over cached
    profiles — minhash's case) the extra exchange costs more than the
    recompute it saves (measured 1.68 vs 2.01 s at sf0.1), so callers
    whose candidate chain is cheap pass barrier=False for a plain
    orderBy; simhash's hamming+distinct chain measured the opposite
    (2.87 barrier vs 3.12 plain) and keeps the default."""
    pa = prof.select(F.col("doc_id").alias("a"), F.col("shset").alias("set_a"))
    pb = prof.select(F.col("doc_id").alias("b"), F.col("shset").alias("set_b"))
    c = F.size(F.array_intersect("set_a", "set_b"))
    jac = c / (F.size("set_a") + F.size("set_b") - c)
    return (
        candidates.join(pa, "a")
        .join(pb, "b")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            *keep,
            F.round("jac", 4).alias("jaccard"),
        )
        .transform(
            barrier_sort("doc_a", "doc_b")
            if barrier
            else (lambda df: df.orderBy("doc_a", "doc_b"))
        )
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "q_x1",
    oracle="SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY 1",
    doc="Exact dedup: keep the lowest doc_id per distinct text. Scale: "
    "group by sha2 digest instead of raw text so the shuffle carries "
    "64-byte keys; one aggregation, AQE-coalesced.",
)
def q_x1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain read, NOT _docs: one sha2 per row is too little map work to
    # repay the rescue repartition's shuffle (measured +0.15s with it);
    # the groupBy's own exchange parallelizes everything downstream
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # Group on a 256-bit digest of the text: collision probability is
    # negligible and the shuffle payload is constant-size per row.
    return (
        d.groupBy(F.sha2("text", 256).alias("text_digest"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Shingling (shared by Jaccard / MinHash)
# ---------------------------------------------------------------------------


def _distinct_gram_array(text_col: str = "text"):
    """Column: the document's DISTINCT word 3-gram array, built as
    zip_with over shifted copies of the word array — a single pass with
    per-element concat. (The first version sliced+joined the array once
    PER POSITION: O(len²) allocations inside an interpreted
    higher-order function, ~2.8 s of the 5 s minhash total at sf0.1;
    this form is ~4x faster and matches the oracle's strict
    3-consecutive-words semantics for sub-3-word docs.)

    zip_with pads the shorter side with NULL -> the LAST TWO positions
    are partial grams; slicing to the first len-2 positions drops
    exactly those (r9: a native slice beats 260k per-posting string
    splits; the r8 note about interpreted in-array filtering applied to
    F.filter's per-element LAMBDA, which slice does not use). Sub-3-word
    docs yield an empty slice, matching the oracle's strict
    3-consecutive-words semantics."""
    words = F.split(F.col(text_col), " ")
    sz = F.size(words)
    w2 = F.slice(words, 2, F.greatest(sz - 1, F.lit(0)))
    w3 = F.slice(words, 3, F.greatest(sz - 2, F.lit(0)))
    grams = F.zip_with(
        F.zip_with(words, w2, lambda x, y: F.concat_ws(" ", x, y)),
        w3,
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    return F.array_distinct(F.slice(grams, 1, F.greatest(sz - 2, F.lit(0))))


def shingles(df: DataFrame, text_col: str = "text", n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) — distinct word 3-grams per document, computed
    with pure column expressions (no Python on the data path); see
    :func:`_distinct_gram_array` for the build shape."""
    assert n == 3, "shingle builder is specialized for 3-grams"
    return df.select(
        "doc_id",
        F.explode(_distinct_gram_array(text_col)).alias("shingle"),
    )


_NGRAM_ORACLE = f"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
), sh AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM words a
  JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN words c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), common AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a AS doc_a, b AS doc_b,
       ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
FROM common
JOIN sizes sa ON a = sa.doc_id
JOIN sizes sb ON b = sb.doc_id
WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
ORDER BY 1, 2
"""


@register(
    "q_dedup_ngram",
    oracle=_NGRAM_ORACLE,
    doc=f"Exact {SHINGLE_N}-gram Jaccard near-dup pairs (threshold "
    f"{JACCARD_THRESHOLD}). Scale: join on shared shingle (not cartesian); "
    "docs with no common shingle never meet. Worst case quadratic in a hot "
    "shingle bucket — the MinHash-LSH variant below is the 100 TB path; "
    "this is the recall-1.0 oracle. The join key is the shingle's "
    "xxhash64 (fixed 8-byte shuffle keys; identical pair counts absent "
    "a 64-bit collision — the r7 disjoint-tree probe measured the "
    "string-keyed form 9x slower at x2 on high-entropy text, where "
    "shingle strings dominate the self-join shuffle).",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = hashed_shingle_postings(_docs(spark, sf_dir)).cache()
    return ngram_pairs(sh)


def hashed_shingle_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle BIGINT, n INT) — the exact tier's posting table
    with xxhash64 keys (fixed 8-byte shuffle keys; see q_dedup_ngram's
    docstring for the string-vs-hash measurement), HASH-CLUSTERED BY
    SHINGLE and carrying the per-doc set size.

    r13 shape (guide §2.4 — two ops keyed the same way share one
    exchange): every consumer of this table keys on ``shingle`` — the
    duplicate-mass histogram (groupBy shingle) and BOTH sides of the
    exact-tier self-join — so ONE repartition("shingle") here replaces
    the three shingle exchanges those consumers otherwise planned over
    the cached table (callers cache the result, and a cached frame
    preserves its outputPartitioning, so the self-join runs
    exchange-free on both sides). ``n`` is the per-doc DISTINCT-gram
    count, computed MAP-SIDE from the gram array before the explode
    (two-step select so the array evaluates once) — it replaces
    ngram_pairs' separate sizes aggregation + two doc_id size joins,
    the same denormalization the at-rest index uses
    (dedup_index.postings_with_sizes), without that builder's window
    shuffle. Row-count identical to the r12 (doc_id, shingle) table:
    n = size of the distinct STRING gram array == the old
    per-doc posting count."""
    return (
        docs.select("doc_id", _distinct_gram_array().alias("_grams"))
        .select(
            "doc_id",
            F.size("_grams").alias("n"),
            F.explode("_grams").alias("_g"),
        )
        .select("doc_id", F.xxhash64("_g").alias("shingle"), "n")
        .repartition("shingle")
    )


# Duplicate-mass routing bar for the curation capstone (q_x45): the
# EXACT pair tier is used only while candidate-pair volume stays
# proportional to corpus size. Measured mass/doc (sum over shingle
# groups of c(c-1)/2, per document): proportional regimes 28 (sf0.01),
# 253 (sf0.1), 253.5 (tagwords x8 — scale-invariant by construction);
# duplicate-adversarial suffix trees 535 at x2 and 2210 at x8, growing
# ~linearly with the factor. 500 splits the measured gap: every
# proportional corpus (including both oracle SFs) routes EXACT, every
# adversarial tree routes CAPPED from x2 up.
PAIR_MASS_PER_DOC = 500


def shingle_pair_mass(sh: DataFrame) -> float:
    """Candidate-pair volume of the exact shingle self-join: sum over
    shingle groups of c*(c-1)/2. ONE aggregation over the postings
    (groupBy shingle -> count -> sum), linear map-side work and a
    distinct-shingles-bounded shuffle — this is the cheap estimator
    that decides whether the quadratic-by-construction exact tier is
    affordable, BEFORE paying for it (VERDICT r9 task 7; the same
    histogram an LSH band-bucket stage computes)."""
    row = (
        sh.groupBy("shingle")
        .count()
        .agg(
            F.sum(
                F.col("count") * (F.col("count") - F.lit(1)) / F.lit(2)
            ).alias("m")
        )
        .first()
    )
    return float(row.m or 0.0)


def ngram_match_pairs(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) UNSORTED — the exact-tier pair pipeline
    over a hashed_shingle_postings table. r13 shape: the self-join runs
    exchange-free over the shingle-clustered cached table (both sides
    read the same partitioning — guide §2.4), and the per-doc set sizes
    ride the postings as the denormalized ``n`` column, so the Jaccard
    denominators are first() aggregates of the pair groupBy instead of
    a separate sizes aggregation + two doc_id joins (the r12 plan paid
    2 self-join exchanges + 1 sizes exchange + 2 joins for the same
    rows). Callers that RETURN the pairs sort them (q_dedup_ngram);
    callers that feed connected components consume them unsorted — the
    CC checkpoint is ingest-order-insensitive and the global sort was
    pure waste there (guide §2.4: an orderBy used only to make output
    deterministic)."""
    a = sh.alias("x")
    b = sh.alias("y")
    common = (
        a.join(b, (F.col("x.shingle") == F.col("y.shingle")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(
            F.count("*").alias("c"),
            F.first(F.col("x.n")).alias("na"),
            F.first(F.col("y.n")).alias("nb"),
        )
    )
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return common.filter(jac >= JACCARD_THRESHOLD).select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        F.round(jac, 4).alias("jaccard"),
    )


def ngram_pairs(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) — q_dedup_ngram's exact-tier pair
    pipeline over an already-built hashed posting table (factored out
    so q_x45's duplicate-mass router can reuse the postings its
    estimator just scanned); sorted for the registered output."""
    return ngram_match_pairs(sh).transform(barrier_sort("doc_a", "doc_b"))


def ngram_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) UNSORTED — the exact-tier near-dup edge set for
    connected-components consumers (q_x5/q_x5b): q_dedup_ngram's
    pipeline minus the registered output's global sort, which the CC
    checkpoint never needed (r13; the sort was one extra barrier
    repartition + range exchange per capstone)."""
    sh = hashed_shingle_postings(_docs(spark, sf_dir)).cache()
    return ngram_match_pairs(sh).select("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


@register(
    "q_dedup_minhash",
    oracle=None,  # hash-seeded algorithm; no SQL-expressible oracle.
    # Recall vs the exact q_dedup_ngram oracle is asserted in tests.
    doc=f"MinHash({MINHASH_K})+LSH({MINHASH_BANDS} bands) near-dup pairs, "
    f"verified with exact Jaccard >= {JACCARD_THRESHOLD}. Scale: candidates "
    "come from equi-joins on (band, band_signature) — shuffle-friendly, "
    "no cartesian; verification only touches candidate pairs.",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE groupBy(doc_id) builds the whole per-doc profile — the k
    # seeded min-hashes AND the sorted shingle-hash set the verify
    # stage intersects — so the corpus posting table is shuffled
    # exactly once for the entire query (the r8 form re-shuffled it
    # three more times inside the posting-join verify). The cached
    # profile stays hash-partitioned by doc_id, so every downstream
    # doc_id equi-join (both verify sides) adds zero exchange on the
    # corpus side.
    #
    # Shingles are carried as 64-BIT HASHES, not strings: every
    # consumer (seeded min-hash aggs, the set intersection) only needs
    # equality, so hashing once up front makes profile rows fixed-width
    # longs. A 64-bit collision adds one phantom shared shingle to one
    # pair — negligible against the 0.5 Jaccard threshold.
    prof = shingle_profiles(
        shingle_hash_arrays(_docs(spark, sf_dir)),
        [
            F.min(F.xxhash64(F.col("shingle"), F.lit(seed))).alias(f"h{seed}")
            for seed in range(MINHASH_K)
        ],
    ).cache()
    rows_per_band = MINHASH_K // MINHASH_BANDS
    bands = prof.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"h{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bh"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bh")
    candidates = lsh_band_candidates(bands)
    # Verify candidates with exact Jaccard over the shingle-set arrays;
    # plain orderBy — the verify chain is broadcast-over-cached, cheap
    # to re-run for the range sampler (see jaccard_verify_sets)
    return jaccard_verify_sets(candidates, prof, barrier=False)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


@register(
    "q_dedup_simhash",
    oracle=None,  # hash-seeded fingerprint; recall asserted in tests.
    doc=f"SimHash-{SIMHASH_BITS} near-dup pairs over the SAME "
    f"{SHINGLE_N}-gram shingle feature space as the exact oracle: "
    "per-bit majority vote over hashed shingles, candidates from all "
    f"C({SIMHASH_BANDS},2)=28 two-band 16-bit probe keys (Manku-style "
    "rotation probing: pigeonhole-exact capture up to Hamming 6 — six "
    "flipped bits leave >=2 of the 8 bands untouched, so >=1 probed "
    f"band pair matches; the {SIMHASH_MAX_HAMMING}-bit filter radius "
    "beyond that rides measured band-collision behavior, 254/256 "
    "truth pairs reachable at sf0.1), Hamming-filtered via "
    "bit_count(xor), then VERIFIED with exact Jaccard >= "
    f"{JACCARD_THRESHOLD} so emitted pairs are a strict subset of the "
    "truth set (0 false positives; recall 0.96-0.98 across SFs, "
    "RECALL_r7 — up from 0.84 at the old radius 6). Scale: "
    "fingerprint is one groupBy; 28 fixed-width probe keys per doc; "
    "bucket-capped candidate join (lsh_band_candidates); verify "
    "touches only candidate pairs.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE groupBy(doc_id) builds the per-doc profile: the 64 bit-vote
    # sums AND the sorted shingle-hash set the verify intersects — the
    # corpus posting table is shuffled exactly once for the whole query
    # (cf. q_dedup_minhash; the r8 form re-shuffled postings three more
    # times in the verify and re-joined the fingerprint table twice for
    # the Hamming filter).
    #
    # per-bit vote: simhash bit b = 1 iff more than half the features
    # set it. Computed branch-free as s_b = SUM((h >> b) & 1) plus one
    # COUNT(*): the +1/-1 majority vote v_b = 2*s_b - n is positive iff
    # 2*s_b > n — same fingerprint, no per-bit conditional in the 64
    # aggregate expressions (the hot path: |shingles| rows x 64 exprs).
    # The feature hash IS the already-computed shingle xxhash64 — no
    # second hashing pass.
    # LANE-PACKED vote sums (r9): the hot path evaluates |postings| x
    # (aggregate exprs), so the 64 per-bit sums are folded into 32
    # accumulators holding TWO 32-bit lanes each — acc_i sums bits i
    # (lane 0) and i+32 (lane 1) of every feature hash in one SUM via
    # the 0x0000000100000001 mask. Lanes cannot interact: each lane's
    # total is the per-doc posting count < 2^32, so no carry ever
    # crosses bit 32 (a 16-bit-lane variant would halve the exprs again
    # but overflows at 65k shingles — a real book-length doc at 100 TB).
    # Measured: ~0.5 s off the sf0.1 vote aggregation vs 64 plain sums.
    lane_mask = F.lit(0x0000000100000001)
    votes = shingle_profiles(
        shingle_hash_arrays_strfam(_docs(spark, sf_dir)),
        [
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.shiftrightunsigned(F.col("shingle"), i).bitwiseAND(lane_mask)
                ).alias(f"l{i}")
                for i in range(32)
            ],
        ],
    )

    def s_bit(b: int):
        # unpack bit b's vote count from its accumulator lane
        if b < 32:
            return F.col(f"l{b}").bitwiseAND(F.lit(0xFFFFFFFF))
        return F.shiftrightunsigned(F.col(f"l{b - 32}"), 32)

    # pack sign bits into one BIGINT, branch-free: vote bit b is set iff
    # 2*s_b > n, i.e. iff (n - 2*s_b) is negative — its sign bit,
    # extracted with one unsigned shift, IS the fingerprint bit, so the
    # packing is 64 shift-left-or-add ops instead of 64 CaseWhens
    # (cheaper to evaluate AND to codegen-compile; the When form showed
    # up in per-run plan-compile latency)
    packed = votes.select(
        "doc_id",
        "shset",
        sum(
            [
                F.shiftleft(
                    F.shiftrightunsigned(F.col("n") - s_bit(b) * 2, 63), b
                )
                for b in range(SIMHASH_BITS)
            ]
        ).alias("simhash"),
    ).cache()
    # cached (lazily): the band explode and both verify sides read
    # packed; it stays hash-partitioned by doc_id from the vote
    # aggregation, so the verify's profile-side joins add no exchange.
    band_val = [
        F.shiftrightunsigned("simhash", i * 8).bitwiseAND(F.lit(0xFF))
        for i in range(SIMHASH_BANDS)
    ]
    combos = [
        (i, j)
        for i in range(SIMHASH_BANDS)
        for j in range(i + 1, SIMHASH_BANDS)
    ]
    bands = packed.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i * SIMHASH_BANDS + j).alias("band"),
                        (band_val[i] * F.lit(256) + band_val[j]).alias("bh"),
                    )
                    for (i, j) in combos
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bh", "simhash")
    # the fingerprint rides the posting shuffle (8 bytes/row), so the
    # Hamming radius filter runs INLINE on the deduped self-join output
    # — no fingerprint re-join
    near = (
        lsh_band_candidates(bands, carry=("simhash",))
        .withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("a", "b", "hamming")
    )
    return jaccard_verify_sets(near, packed, keep=("hamming",))


# --------------------------------------------------------------------------
# Fuzzy near-dup join (edit distance under blocking)
# --------------------------------------------------------------------------

FUZZY_HEAD_CHARS = 40  # compared prefix length
FUZZY_MAX_DIST = 10  # Levenshtein acceptance threshold
FUZZY_HOT_BLOCK = 256  # block size beyond which verify pairs are salted
FUZZY_SALT = 16  # sub-blocks a hot block's verify work is split into
# Blocks above this size switch from all-pairs to star candidates
# (every member verified against the block's min-id representative) in
# the CAPPED variant below — the same bound minhash LSH applies at
# MINHASH_BUCKET_CAP. Salting (FUZZY_HOT_BLOCK) spreads a hot block's
# quadratic verify across tasks but does NOT bound total pair volume;
# the star cap does: an n-member block emits n-1 pairs, not n^2/2. The
# production value would be O(10^3-10^4); the shipped constant is small
# so the star path is exercised — and ORACLE-VERIFIED, the cap
# semantics are plain SQL — at every test scale factor (max first-token
# block is 26 docs at sf0.01, ~200 at sf0.1).
FUZZY_BLOCK_CAP = 24


def fuzzy_block_pairs(d: DataFrame) -> DataFrame:
    """Blocking + verify with adaptive hot-block salting.

    `d` must carry (doc_id, tok1, head). Candidate pairs share `tok1`;
    verification is threshold-banded Levenshtein on `head`. A block
    whose size exceeds FUZZY_HOT_BLOCK would otherwise put its entire
    quadratic verify loop in ONE task (the classic ER hot-block skew:
    every doc starting with "The"), so hot blocks are salted: the probe
    side keeps `salt = hash(doc_id) % FUZZY_SALT`, the build side
    replicates each row to every salt value, and the join key becomes
    (tok1, salt). Each unordered pair still meets exactly once (the
    replicated row matches the probe row only at the probe's own salt),
    so the output is IDENTICAL to the unsalted join, but a hot block's
    n^2 verify pairs are spread over FUZZY_SALT tasks at n^2/SALT each.
    Cold blocks pay nothing: both sides use salt 0 and no replication.
    This is the skew shape that holds at 100 TB — per-task work is
    bounded by (block cap)^2/SALT regardless of how popular a first
    token is, and the block-size aggregate that drives the decision is
    one co-partitioned shuffle on the same key as the join itself.
    """
    sizes = d.groupBy("tok1").agg(F.count(F.lit(1)).alias("block_n"))
    dd = d.join(sizes, "tok1")
    hot = F.col("block_n") > FUZZY_HOT_BLOCK
    a = dd.select(
        F.col("doc_id").alias("doc_a"),
        "tok1",
        F.col("head").alias("head_a"),
        F.explode(
            F.when(hot, F.sequence(F.lit(0), F.lit(FUZZY_SALT - 1))).otherwise(
                F.array(F.lit(0))
            )
        ).alias("peer_salt"),
    )
    b = dd.select(
        F.col("doc_id").alias("doc_b"),
        "tok1",
        F.col("head").alias("head_b"),
        F.when(hot, F.pmod(F.xxhash64("doc_id"), F.lit(FUZZY_SALT)).cast("int"))
        .otherwise(F.lit(0))
        .alias("peer_salt"),
    )
    return (
        a.join(b, ["tok1", "peer_salt"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # threshold form: banded DP + early exit, O(len*k) per pair
        # instead of O(len^2); returns -1 when the distance exceeds the
        # bound, the true distance otherwise — same accepted pairs
        .withColumn(
            "dist",
            F.levenshtein("head_a", "head_b", FUZZY_MAX_DIST),
        )
        .filter(F.col("dist") >= 0)
        .select("doc_a", "doc_b", "dist")
    )


@register(
    "q_x24_fuzzy",
    oracle=(
        "WITH d AS (SELECT doc_id, string_split(text, ' ')[1] AS tok1, "
        f"substr(text, 1, {FUZZY_HEAD_CHARS}) AS head FROM documents) "
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "levenshtein(a.head, b.head) AS dist "
        "FROM d a JOIN d b ON a.tok1 = b.tok1 AND a.doc_id < b.doc_id "
        f"WHERE levenshtein(a.head, b.head) <= {FUZZY_MAX_DIST} "
        "ORDER BY 1, 2"
    ),
    doc=f"Fuzzy near-dup join: documents whose leading "
    f"{FUZZY_HEAD_CHARS}-char prefix is within Levenshtein distance "
    f"{FUZZY_MAX_DIST}, candidate-limited by a first-token blocking key "
    "(the classic entity-resolution blocking+verify split: equi-join on "
    "the cheap key, quadratic edit-distance only WITHIN a block). "
    "levenshtein() is a JVM built-in on both engines. Scale: block key "
    "cardinality bounds pair volume the same way LSH bands do for "
    f"q_dedup_minhash; blocks over {FUZZY_HOT_BLOCK} rows are salted "
    f"{FUZZY_SALT} ways (see fuzzy_block_pairs) so a hot first token "
    "cannot concentrate its quadratic verify loop in one task.",
)
def q_x24_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fuzzy_blocking_table(_docs(spark, sf_dir))
    return fuzzy_block_pairs(d).transform(barrier_sort("doc_a", "doc_b"))


def fuzzy_blocking_table(docs: DataFrame) -> DataFrame:
    """(doc_id, tok1, head) — the fuzzy tier's blocking input, factored
    out so q_x31's duplicate-mass router can measure block mass on the
    same table the exact tier would join."""
    return docs.select(
        "doc_id",
        F.split(F.col("text"), " ").getItem(0).alias("tok1"),
        F.substring("text", 1, FUZZY_HEAD_CHARS).alias("head"),
    )


# Duplicate-mass routing bar for the ER capstone (q_x31), the fuzzy
# twin of PAIR_MASS_PER_DOC: measured block mass (sum over tok1 blocks
# of c(c-1)/2, per document) is 8.5 (sf0.01), 83.5 (sf0.1), 83.5
# (tagwords x8 — scale-invariant) on proportional corpora, vs 167 at
# suffix x2 and 671 at x8, growing ~linearly with the factor. 160
# splits the gap: both oracle SFs route the EXACT uncapped tier,
# adversarial trees route the capped tier from x2 up.
FUZZY_BLOCK_MASS_PER_DOC = 160


def route_by_mass(
    query: str, mass: float, n_docs: int, bar: float, env_var: str
) -> bool:
    """The capstones' duplicate-mass routing DECISION, surfaced
    (ADVICE r10: above the bar the capped tier produces a DIFFERENT
    pair set than the exact tier — a semantic switch, not just a
    physical-plan choice, so it must be visible and caller-tunable,
    not silent behind a hardcoded constant). Returns True when the
    capped tier should run. Every decision is LOGGED with the measured
    mass, the bar in force, and the chosen tier; the bar itself is
    overridable per-run via ``env_var`` (e.g.
    SPARK_GRAFT_PAIR_MASS_PER_DOC) so a caller whose corpus sits near
    the calibrated bar can pin either tier explicitly — set it huge to
    force EXACT, 0 to force CAPPED. The near-bar cost of a wrong
    routing is bounded (SCALE_PROBE_CAPSTONES near-bar regime: worst
    routing <= ~1.3x the better tier), so the default stays automatic."""
    import logging
    import os

    raw = os.environ.get(env_var)
    if raw is not None:
        try:
            bar = float(raw)
        except ValueError:
            # a malformed override must read as a configuration error at
            # the env var, not an unexplained ValueError from inside a
            # composed capstone plan (ADVICE r11)
            raise ValueError(
                f"{env_var}={raw!r} is not a number: the duplicate-mass "
                "routing bar override must be a float (huge=force EXACT, "
                "0=force CAPPED)"
            ) from None
    capped = mass > bar * n_docs
    logging.getLogger(__name__).info(
        "%s duplicate-mass router: mass/doc=%.1f vs bar=%.1f (%s%s) -> "
        "%s tier",
        query,
        mass / max(n_docs, 1),
        bar,
        env_var,
        " override" if raw is not None else " default",
        "CAPPED" if capped else "EXACT",
    )
    return capped


def fuzzy_block_mass(d: DataFrame) -> float:
    """Candidate-pair volume of the uncapped fuzzy blocking join: sum
    over tok1 blocks of c*(c-1)/2 — one aggregation on the SAME key
    the join itself uses (the block-size histogram fuzzy_block_pairs
    computes anyway for salting)."""
    row = (
        d.groupBy("tok1")
        .count()
        .agg(
            F.sum(
                F.col("count") * (F.col("count") - F.lit(1)) / F.lit(2)
            ).alias("m")
        )
        .first()
    )
    return float(row.m or 0.0)


def _star_pairs(rows: DataFrame, keys: list[str], rep_col: str) -> DataFrame:
    """Star candidates for oversized blocks: every member vs the
    block's min-id representative, salted so one hot key's n-1
    Levenshtein verifies spread over FUZZY_SALT tasks instead of
    serializing on a single (keys, rep) join key. `rows` carries
    (doc_id, head, *keys, rep_col); rep = MIN(doc_id) of the block, so
    doc_a < doc_b holds by construction."""
    reps = rows.filter(F.col("doc_id") == F.col(rep_col)).select(
        *keys,
        F.col("doc_id").alias("doc_a"),
        F.col("head").alias("head_a"),
        F.explode(F.sequence(F.lit(0), F.lit(FUZZY_SALT - 1))).alias("salt"),
    )
    members = rows.filter(F.col("doc_id") != F.col(rep_col)).select(
        *keys,
        F.col("doc_id").alias("doc_b"),
        F.col("head").alias("head_b"),
        F.pmod(F.xxhash64("doc_id"), F.lit(FUZZY_SALT)).cast("int").alias("salt"),
    )
    return reps.join(members, [*keys, "salt"]).select(
        "doc_a", "doc_b", "head_a", "head_b"
    )


def fuzzy_block_pairs_capped(d: DataFrame) -> DataFrame:
    """Hierarchical blocking + verify with a hard per-block PAIR-VOLUME
    cap (the production twin of fuzzy_block_pairs).

    `d` carries (doc_id, tok1, tok2, head). Three tiers:

    1. tok1 blocks up to FUZZY_BLOCK_CAP: all within-block pairs — the
       textbook blocking join, unchanged.
    2. Oversized tok1 blocks are RE-BLOCKED on the refined 2-token key
       (the standard iterative-blocking ER move): sub-blocks up to the
       cap emit all within-SUB-block pairs.
    3. Sub-blocks STILL over the cap emit star candidates only (member
       vs sub-block min-id rep, n-1 pairs); additionally every member
       of an oversized tok1 block is star-verified against the BLOCK's
       min-id rep, which preserves cross-sub-block connectivity for
       the downstream connected-components stage.

    Salting spreads a hot block's verify work across tasks; it does
    not bound it — this cap does: worst case (every doc shares both
    tokens) emits 2(n-1) pairs per block, so total verify cost is
    linear in corpus size no matter how popular a blocking key gets.
    SCALE_PROBE r5 measured exponent 1.13 for the uncapped form —
    exactly the within-block pair growth tiers 2-3 remove. Unlike the
    minhash/simhash tiers, the capped semantics are deterministic and
    SQL-expressible (one blocking join with an OR of the three tier
    predicates), so this twin is fully ORACLE-GATED; pair recall vs
    the uncapped form is measured in RECALL_r6 (~0.99 at sf0.1: refined
    sub-blocks recover what the cap would drop). Star verifies are
    salted FUZZY_SALT ways (see _star_pairs)."""
    s1 = d.groupBy("tok1").agg(
        F.count(F.lit(1)).alias("n1"), F.min("doc_id").alias("rep1")
    )
    dd = d.join(s1, "tok1")
    small = dd.filter(F.col("n1") <= FUZZY_BLOCK_CAP)
    a = small.select(
        F.col("doc_id").alias("doc_a"), "tok1", F.col("head").alias("head_a")
    )
    b = small.select(
        F.col("doc_id").alias("doc_b"), "tok1", F.col("head").alias("head_b")
    )
    tier1 = (
        a.join(b, "tok1")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "head_a", "head_b")
    )
    big = dd.filter(F.col("n1") > FUZZY_BLOCK_CAP)
    s2 = big.groupBy("tok1", "tok2").agg(
        F.count(F.lit(1)).alias("n2"), F.min("doc_id").alias("rep2")
    )
    bb = big.join(s2, ["tok1", "tok2"])
    sub_small = bb.filter(F.col("n2") <= FUZZY_BLOCK_CAP)
    sa = sub_small.select(
        F.col("doc_id").alias("doc_a"),
        "tok1",
        "tok2",
        F.col("head").alias("head_a"),
    )
    sb = sub_small.select(
        F.col("doc_id").alias("doc_b"),
        "tok1",
        "tok2",
        F.col("head").alias("head_b"),
    )
    tier2 = (
        sa.join(sb, ["tok1", "tok2"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "head_a", "head_b")
    )
    tier3 = _star_pairs(
        bb.filter(F.col("n2") > FUZZY_BLOCK_CAP), ["tok1", "tok2"], "rep2"
    ).union(_star_pairs(big, ["tok1"], "rep1"))
    return (
        tier1.union(tier2)
        .union(tier3)
        .withColumn("dist", F.levenshtein("head_a", "head_b", FUZZY_MAX_DIST))
        .filter(F.col("dist") >= 0)
        .select("doc_a", "doc_b", "dist")
        # tiers overlap (a block-rep star pair may also be a tier-2
        # sub-block pair); dist is deterministic per pair, so a
        # distinct on the full row reproduces the oracle's set
        .distinct()
    )


_FUZZY_CAPPED_PAIRS_SQL = (
    "WITH d AS (SELECT doc_id, string_split(text, ' ')[1] AS tok1, "
    "string_split(text, ' ')[1] || ' ' || "
    "coalesce(string_split(text, ' ')[2], '') AS tok2, "
    f"substr(text, 1, {FUZZY_HEAD_CHARS}) AS head FROM documents), "
    "s1 AS (SELECT tok1, COUNT(*) AS n1, MIN(doc_id) AS rep1 "
    "FROM d GROUP BY 1), "
    "s2 AS (SELECT tok1, tok2, COUNT(*) AS n2, MIN(doc_id) AS rep2 "
    "FROM d GROUP BY 1, 2) "
    "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "levenshtein(a.head, b.head) AS dist "
    "FROM d a JOIN d b ON a.tok1 = b.tok1 AND a.doc_id < b.doc_id "
    "JOIN s1 ON s1.tok1 = a.tok1 "
    "JOIN s2 ON s2.tok1 = a.tok1 AND s2.tok2 = a.tok2 "
    f"WHERE (s1.n1 <= {FUZZY_BLOCK_CAP} "
    "OR a.doc_id = s1.rep1 "
    "OR (a.tok2 = b.tok2 "
    f"AND (s2.n2 <= {FUZZY_BLOCK_CAP} OR a.doc_id = s2.rep2))) "
    f"AND levenshtein(a.head, b.head) <= {FUZZY_MAX_DIST}"
)


@register(
    "q_x24b_fuzzy_capped",
    oracle=_FUZZY_CAPPED_PAIRS_SQL + " ORDER BY 1, 2",
    doc=f"Fuzzy near-dup join with a per-block pair-volume cap: the "
    f"production twin of q_x24_fuzzy. Blocks over {FUZZY_BLOCK_CAP} "
    "docs are RE-BLOCKED on a refined 2-token key (iterative "
    "blocking); sub-blocks still over the cap emit star candidates "
    "(member vs min-id rep, n-1 pairs), plus a block-rep star for "
    "cross-sub-block connectivity — worst case 2(n-1) pairs per "
    "block, so total verify cost stays linear in corpus size when a "
    "blocking key goes hot (SCALE_PROBE: uncapped exponent 1.13 from "
    "within-block pair growth; the cap removes it). Unlike the "
    "minhash/simhash tiers the capped semantics are deterministic "
    "SQL, so this twin is fully oracle-gated; pair recall vs the "
    "uncapped form is measured in RECALL_r6 (~0.99 at sf0.1). Star "
    f"verify work is salted {FUZZY_SALT} ways so a hot block's n-1 "
    "Levenshteins never serialize into one task.",
)
def q_x24b_fuzzy_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fuzzy_block_pairs_capped(_fuzzy_input(spark, sf_dir)).transform(
        barrier_sort("doc_a", "doc_b")
    )


def _fuzzy_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok1, tok2, head) blocking projection; tok2 — the
    refined 2-token key — is null-safe for single-token docs (second
    token coalesced to ''), via ``F.get`` rather than ``getItem``:
    under Spark 4's default ANSI mode an out-of-bounds getItem THROWS
    (ArrayIndexOutOfBoundsException) instead of returning NULL, so a
    one-word document would crash the whole query (pinned by
    tests/test_skew.py::test_capped_fuzzy_single_token_docs_not_dropped)."""
    toks = F.split(F.col("text"), " ")
    return _docs(spark, sf_dir).select(
        "doc_id",
        toks.getItem(0).alias("tok1"),
        F.concat(
            toks.getItem(0),
            F.lit(" "),
            F.coalesce(F.get(toks, 1), F.lit("")),
        ).alias("tok2"),
        F.substring("text", 1, FUZZY_HEAD_CHARS).alias("head"),
    )


# --------------------------------------------------------------------------
# Incremental corpus dedup (new batch vs indexed corpus)
# --------------------------------------------------------------------------

INCR_MOD = 10  # doc_id % INCR_MOD == 0 -> doc belongs to the incoming batch


def _incr_oracle(mod: int) -> str:
    """The incremental-dedup oracle, parameterized on the batch
    modulus: q_x44/q_x44b/q_x44c use INCR_MOD (a 10%-of-corpus batch);
    q_x44d_incrdedup_pruned uses a much sparser modulus so the batch's
    shingles genuinely touch a SUBSET of a wide index's buckets and
    the pruned route actually exercises."""
    return f"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
), sh AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM words a
  JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN words c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), common AS (
  SELECT x.doc_id AS doc_new, y.doc_id AS doc_match, COUNT(*) AS c
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
  WHERE x.doc_id % {mod} = 0
    AND (y.doc_id % {mod} <> 0 OR y.doc_id < x.doc_id)
  GROUP BY 1, 2
)
SELECT doc_new, doc_match,
       ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
FROM common
JOIN sizes sa ON doc_new = sa.doc_id
JOIN sizes sb ON doc_match = sb.doc_id
WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
ORDER BY 1, 2
"""


_INCR_ORACLE = _incr_oracle(INCR_MOD)


@register(
    "q_x44_incrdedup",
    oracle=_INCR_ORACLE,
    doc=f"Incremental corpus dedup — the daily-ingest production "
    f"pattern: an incoming batch (doc_id % {INCR_MOD} = 0 stands in "
    "for today's crawl) is deduplicated against the already-indexed "
    "corpus AND against earlier docs of its own batch (id order), "
    f"emitting (doc_new, doc_match, jaccard >= {JACCARD_THRESHOLD}) "
    "match pairs. Scale: this is the shape that makes continuous "
    "curation affordable — the probe side is the BATCH's shingle "
    "postings, so cost is proportional to the batch and the postings "
    "it touches, never to corpus^2 (the full-corpus q_dedup_ngram "
    "re-run this replaces grows quadratically in total size). At rest "
    "the corpus shingle table is the persistent index: bucketed by "
    "shingle (tests/test_bucketing.py pattern) the probe join is "
    "co-located and shuffle-free on the corpus side; the batch's "
    "verified survivors then append to the same index.",
)
def q_x44_incrdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # OWNERSHIP (cf. lsh_band_candidates): the cache is intentionally
    # left alive — the returned plan is lazy and reads `sh` from four
    # subplans (probe side, corpus side, both size joins); unpersisting
    # here would evict it before execution. Long-lived sessions release
    # it the same way as every other dedup cache: bench.py calls
    # spark.catalog.clearCache() after each timed query, and the
    # CacheManager dedupes identical lineages across repeated calls.
    # Hashed join keys, cf. q_dedup_ngram: two longs per cached row.
    sh = (
        shingles(docs)
        .select("doc_id", F.xxhash64("shingle").alias("shingle"))
        .cache()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    incoming = F.col("doc_id") % INCR_MOD == 0
    x = sh.filter(incoming).alias("x")  # batch postings: the probe side
    y = sh.alias("y")  # indexed corpus + the batch itself
    common = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .filter(
            (F.col("y.doc_id") % INCR_MOD != 0)
            | (F.col("y.doc_id") < F.col("x.doc_id"))
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_new"),
            F.col("y.doc_id").alias("doc_match"),
        )
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("c") / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
    return (
        common.join(sa, F.col("doc_new") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_match") == F.col("sb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select(
            "doc_new",
            "doc_match",
            F.round(jac, 4).alias("jaccard"),
        )
        .transform(barrier_sort("doc_new", "doc_match"))
    )


# --------------------------------------------------------------------------
# Streaming near-dup admission (batch-fold simulation of the
# streaming/neardup_ingest.py pipeline)
# --------------------------------------------------------------------------

ST6_BATCHES = 4  # id-ordered ranges, matching the file-stream ordering

_ST6_ORACLE = f"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
), sh AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM words a
  JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN words c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), dropped AS (
  SELECT DISTINCT x.doc_id AS d
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND y.doc_id < x.doc_id
  JOIN sizes sa ON x.doc_id = sa.doc_id
  JOIN sizes sb ON y.doc_id = sb.doc_id
  GROUP BY x.doc_id, y.doc_id, sa.n, sb.n
  HAVING COUNT(*) * 1.0 / (sa.n + sb.n - COUNT(*)) >= {JACCARD_THRESHOLD}
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT d FROM dropped)
ORDER BY doc_id
"""


@register(
    "q_st6_neardup",
    oracle=_ST6_ORACLE,
    doc="Streaming near-dup ADMISSION (ST family): docs arrive in "
    f"{ST6_BATCHES} id-ordered micro-batches; a doc is admitted iff no "
    f"EARLIER doc (any prior batch, or a smaller id in its own batch) "
    f"is a near-dup at exact Jaccard >= {JACCARD_THRESHOLD}. The fold "
    "drives the TRUE per-batch pipeline "
    "(streaming/neardup_ingest.admit_batch: bucketed persistent state "
    "table + batchId-named exactly-once admitted files, called once "
    "per batch; tests/test_stream_ingest.py pins the any-earlier rule "
    "across a mid-stream compaction, replay idempotence and the "
    "admitted/state crash window); because batches are id-ordered "
    "ranges, the (batch, id) arrival order equals plain doc_id order "
    "and the oracle is one NOT-EXISTS pass. State = shingle postings "
    "of ALL seen docs (the any-earlier rule: a doc matching only a "
    "dropped dup is the same chain and must drop too — also what "
    "keeps the rule one SQL pass instead of an order-recursive "
    "greedy). Scale: per-batch SHUFFLE cost is O(batch postings) — "
    "the state side of the probe join scans the bucketed table in "
    "place (Bucketed: true, no Exchange; operators/dedup_index.py), "
    "so accumulating state adds linear co-located IO, not "
    "ever-growing reshuffles (the r6 form's measured 0.95-exponent "
    "per-batch cost).",
)
def q_st6_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..streaming.neardup_ingest import admit_batch, admitted_ids

    # fresh work dir per invocation: concurrent sweeps/benches on the
    # same sf_dir must not race on one state table; the admitted files
    # stay on disk because the returned plan reads them lazily, so
    # cleanup is deferred to PROCESS EXIT (atexit) — every bench/sweep
    # run removes its own state dirs instead of accreting full-corpus
    # postings in /tmp across runs
    work = tempfile.mkdtemp(prefix="spark_graft_st6_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    # plain read, NOT _docs: the fold derives ~3 jobs per micro-batch
    # from this frame (postings build, admitted write's anti-join leg,
    # retract collects) and each would re-execute _docs' rescue
    # exchange — measured 5.7s -> 18s with it; the ThreadPool postings
    # prebuild is this fold's parallelism story instead
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hi = docs.agg(F.max("doc_id")).first()[0] or 0
    step = hi // ST6_BATCHES + 1
    batches = [
        docs.filter(
            (F.col("doc_id") >= b * step) & (F.col("doc_id") < (b + 1) * step)
        )
        for b in range(ST6_BATCHES)
    ]
    # availableNow catch-up parallelism: every queued batch is already
    # on disk, and the postings build is STATELESS (only the probe
    # needs prior state), so shingle all queued batches as concurrent
    # jobs up front — the per-batch serial chain keeps only the
    # probe/sink work (admit_batch docstring)
    from concurrent.futures import ThreadPoolExecutor

    from ..operators.dedup_index import postings_with_sizes

    with ThreadPoolExecutor(ST6_BATCHES * 2) as pool:
        # submit BOTH frame families before collecting either (ADVICE
        # r12: sequential pool.map pairs never used the doubled pool —
        # the cheap id-frame checkpoints now overlap the postings
        # builds instead of queueing behind them)
        post_f = [
            pool.submit(
                lambda bd=bd: postings_with_sizes(bd).localCheckpoint()
            )
            for bd in batches
        ]
        # id frames too (r12): the admitted sink's anti-join otherwise
        # re-scans the parquet range filter once per batch
        idf_f = [
            pool.submit(lambda bd=bd: bd.select("doc_id").localCheckpoint())
            for bd in batches
        ]
        posts = [f.result() for f in post_f]
        idfs = [f.result() for f in idf_f]
    for b in range(ST6_BATCHES):
        admit_batch(
            spark,
            batches[b],
            f"{work}/state",
            f"{work}/out",
            b,
            batch_post=posts[b],
            batch_ids=idfs[b],
        )
    return (
        admitted_ids(spark, f"{work}/out")
        .select("doc_id")
        .transform(barrier_sort("doc_id"))
    )


# --------------------------------------------------------------------------
# Streaming admission with in-stream retractions (batch-fold simulation
# of the streaming/retract_ingest.py pipeline)
# --------------------------------------------------------------------------

# batch b (b >= 1) retracts the docs of batch b-1 whose
# doc_id % ST8_RETRACT_MOD == 0 — a deterministic takedown schedule the
# oracle can express: because batches are id-ordered ranges, a doc in
# an EARLIER batch has been retracted by the prober's batch iff its id
# is divisible (retraction lands exactly one batch after ingest), and
# the retracted corpus-set is the divisible ids of batches 0..N-2.
ST8_RETRACT_MOD = 5

_ST8_ORACLE = f"""
WITH step AS (
  SELECT (MAX(doc_id) // {ST6_BATCHES}) + 1 AS s FROM documents
), words AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
), sh AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM words a
  JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN words c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), dropped AS (
  SELECT DISTINCT x.doc_id AS d
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND y.doc_id < x.doc_id
  JOIN sizes sa ON x.doc_id = sa.doc_id
  JOIN sizes sb ON y.doc_id = sb.doc_id
  WHERE y.doc_id // (SELECT s FROM step) = x.doc_id // (SELECT s FROM step)
     OR y.doc_id % {ST8_RETRACT_MOD} != 0
  GROUP BY x.doc_id, y.doc_id, sa.n, sb.n
  HAVING COUNT(*) * 1.0 / (sa.n + sb.n - COUNT(*)) >= {JACCARD_THRESHOLD}
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT d FROM dropped)
  AND NOT (doc_id % {ST8_RETRACT_MOD} = 0
           AND doc_id // (SELECT s FROM step) < {ST6_BATCHES} - 1)
ORDER BY doc_id
"""


@register(
    "q_st8_retract",
    oracle=_ST8_ORACLE,
    doc="Streaming admission with IN-STREAM RETRACTIONS (ST family; "
    "the streaming leg of the r9 index-delete lifecycle): docs arrive "
    f"in {ST6_BATCHES} id-ordered micro-batches and each batch b >= 1 "
    f"also carries takedown events for batch b-1's doc_id % "
    f"{ST8_RETRACT_MOD} == 0 docs. Retractions apply BEFORE the "
    "batch's admissions (exactly-once batch-tagged tombstone "
    "subdirs), so a retracted doc stops blocking near-dups "
    "immediately: doc d admits iff no STILL-LIVE earlier doc matches "
    f"at exact Jaccard >= {JACCARD_THRESHOLD} (a same-batch earlier "
    "doc is always live — its takedown can only arrive next batch). "
    "Result = the LIVE corpus: admitted ids minus every retracted id "
    "(sealed admitted files are never rewritten; the takedown applies "
    "at read time via the same tombstone sidecar the probes mask "
    "with). The fold drives the TRUE per-batch pipeline "
    "(streaming/retract_ingest.admit_batch_events, called once per "
    "batch; tests/test_retract_ingest.py pins the brute-force liveness "
    "rule on fixed and random schedules, replay idempotence, the "
    "tombstone/admission crash window and the reuse guard). Scale: "
    "identical to q_st6_neardup — per-batch shuffle is O(batch "
    "postings) over the bucketed state table's co-located scan — plus "
    "one 8-byte-per-takedown broadcast anti-join for the mask.",
)
def q_st8_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..streaming.retract_ingest import admit_batch_events, live_corpus

    work = tempfile.mkdtemp(prefix="spark_graft_st8_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    # plain read, NOT _docs — same reason as q_st6 (per-batch jobs
    # would each re-execute the rescue exchange)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hi = docs.agg(F.max("doc_id")).first()[0] or 0
    step = hi // ST6_BATCHES + 1
    batches = []
    for b in range(ST6_BATCHES):
        lo, hi_b = b * step, (b + 1) * step
        ev = docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi_b)
        ).select(F.lit("doc").alias("kind"), "doc_id", "text")
        # batch b carries takedowns for batch b-1's divisible ids —
        # derived from the SAME parquet scan, not a driver-built local
        # relation: evaluating a Python createDataFrame side measured
        # ~1.6 s PER JOB (it plans as a Python RDD scan), and the
        # retract side is evaluated once per micro-batch by the
        # tombstone write's collect
        if b > 0:
            ev = ev.unionByName(
                docs.filter(
                    (F.col("doc_id") >= lo - step)
                    & (F.col("doc_id") < hi_b - step)
                    & (F.col("doc_id") % ST8_RETRACT_MOD == 0)
                ).select(
                    F.lit("retract").alias("kind"),
                    "doc_id",
                    F.lit(None).cast("string").alias("text"),
                )
            )
        batches.append(ev)
    # same availableNow catch-up parallelism as q_st6: shingle every
    # queued batch's doc rows concurrently up front (stateless build)
    from concurrent.futures import ThreadPoolExecutor

    from ..operators.dedup_index import postings_with_sizes

    with ThreadPoolExecutor(ST6_BATCHES * 2) as pool:
        # both frame families submitted before collecting either, so
        # the id-frame checkpoints overlap the postings builds (ADVICE
        # r12 — the sequential map pairs never used the doubled pool)
        post_f = [
            pool.submit(
                lambda ev=ev: postings_with_sizes(
                    ev.filter(F.col("kind") == "doc").select(
                        "doc_id", "text"
                    )
                ).localCheckpoint()
            )
            for ev in batches
        ]
        # doc-id frames for the admitted sink + reuse-guard probe (r12)
        idf_f = [
            pool.submit(
                lambda ev=ev: ev.filter(F.col("kind") == "doc")
                .select("doc_id")
                .localCheckpoint()
            )
            for ev in batches
        ]
        posts = [f.result() for f in post_f]
        idfs = [f.result() for f in idf_f]
    for b in range(ST6_BATCHES):
        admit_batch_events(
            spark,
            batches[b],
            f"{work}/state",
            f"{work}/out",
            b,
            batch_post=posts[b],
            batch_ids=idfs[b],
        )
    return (
        live_corpus(spark, f"{work}/out")
        .select("doc_id")
        .transform(barrier_sort("doc_id"))
    )
