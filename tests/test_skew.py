"""Salted join / salted aggregation: result-equivalence with the plain
plan on a deliberately skewed dataset (90% of rows share one key)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_blue_green_arrow_etl_spark.functions.skew import (
    salted_aggregate,
    salted_join,
)


@pytest.fixture(scope="module")
def skewed(spark):
    # 90k rows on key 0, ~10k spread over keys 1..99
    left = spark.range(100_000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") < 90_000, 0)
        .otherwise(F.pmod(F.col("id"), 99) + 1)
        .alias("k"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    right = spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("dim_"), F.col("id")).alias("label")
    )
    return left, right


def test_salted_join_equals_plain_join(spark, skewed):
    left, right = skewed
    plain = left.join(right, "k").select("row_id", "k", "label")
    salted = salted_join(left, right, "k", salt_from="row_id", n_salts=8).select(
        "row_id", "k", "label"
    )
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).isEmpty() and plain.exceptAll(salted).isEmpty()


def test_salted_join_spreads_hot_key(spark, skewed):
    """The hot key's rows must actually land in multiple salt buckets."""
    left, _ = skewed
    salt = F.pmod(F.xxhash64(F.col("row_id")), F.lit(8)).cast("int")
    n_buckets = (
        left.filter(F.col("k") == 0).select(salt.alias("s")).distinct().count()
    )
    assert n_buckets == 8


def test_salted_aggregate_equals_plain(spark, skewed):
    left, _ = skewed
    plain = left.groupBy("k").agg(
        F.sum("v").alias("total"),
        F.count("v").alias("n"),
        F.max("v").alias("mx"),
    )
    salted = salted_aggregate(
        left,
        "k",
        {"total": ("v", "sum"), "n": ("v", "count"), "mx": ("v", "max")},
        salt_from="row_id",
        n_salts=8,
    )
    assert salted.exceptAll(plain).isEmpty() and plain.exceptAll(salted).isEmpty()


def test_salted_aggregate_rejects_non_reaggregable():
    with pytest.raises(ValueError, match="non-reaggregable"):
        salted_aggregate(None, "k", {"a": ("v", "avg")}, salt_from="x")


def test_salted_join_rejects_right_preserving_types(spark, skewed):
    """Right/full joins would duplicate every unmatched right row
    n_salts times (the right side is replicated); the API refuses."""
    left, right = skewed
    for how in ("right", "full", "outer", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(left, right, "k", "row_id", n_salts=4, how=how)


def test_salted_join_left_anti_works(spark, skewed):
    left, right = skewed
    # right covers keys 0..99 fully, so shrink it to force anti matches
    right_small = right.filter(F.col("k") < 50)
    plain = left.join(right_small, "k", "left_anti")
    salted = salted_join(left, right_small, "k", "row_id", n_salts=4, how="left_anti")
    assert salted.count() == plain.count()


# --------------------------------------------------------------------------
# q_x24_fuzzy hot-block salting (VERDICT r3 task 2)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hot_block_docs(spark):
    """2 000 docs sharing one first token (the quadratic hot block) plus
    500 docs spread over cold blocks — with a seeded sprinkle of true
    near-dup pairs so the equality check exercises non-empty output."""
    from neo4j_blue_green_arrow_etl_spark.operators.dedup import FUZZY_HEAD_CHARS

    hot = spark.range(2_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("The quick brown fox number "),
            # id % 40 ensures ~50 docs share each exact head -> real pairs
            (F.col("id") % 40).cast("string"),
            F.lit(" jumps over"),
        ).alias("text"),
    )
    cold = spark.range(2_000, 2_500).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("tok"),
            (F.col("id") % 25).cast("string"),
            F.lit(" unique body "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    d = hot.unionByName(cold).select(
        "doc_id",
        F.split(F.col("text"), " ").getItem(0).alias("tok1"),
        F.substring("text", 1, FUZZY_HEAD_CHARS).alias("head"),
    )
    return d.cache()


def test_fuzzy_salted_equals_unsalted(spark, hot_block_docs):
    """Salting must not change the accepted pair set: compare against
    the plain (unsalted) blocking join on the same frame."""
    from neo4j_blue_green_arrow_etl_spark.operators.dedup import (
        FUZZY_MAX_DIST,
        fuzzy_block_pairs,
    )

    d = hot_block_docs
    a = d.select(
        F.col("doc_id").alias("doc_a"), "tok1", F.col("head").alias("head_a")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), "tok1", F.col("head").alias("head_b")
    )
    # each side is a ~2M-pair join: pin it once, so the count and both
    # exceptAll checks read the pinned rows instead of re-joining
    plain = (
        a.join(b, "tok1")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("dist", F.levenshtein("head_a", "head_b", FUZZY_MAX_DIST))
        .filter(F.col("dist") >= 0)
        .select("doc_a", "doc_b", "dist")
        .localCheckpoint()
    )
    salted = fuzzy_block_pairs(d).localCheckpoint()
    assert salted.count() == plain.count() > 0
    assert salted.exceptAll(plain).isEmpty() and plain.exceptAll(salted).isEmpty()


def test_fuzzy_hot_block_pairs_are_bounded_per_join_key(spark, hot_block_docs):
    """The point of the salt: no single join key (tok1, peer_salt) may
    carry the hot block's full n^2 verify loop. Per-key pair volume is
    build-side rows x probe-side rows for that key; with FUZZY_SALT-way
    salting the probe side of the hot block shrinks to ~n/SALT, so the
    worst key's pair product must be ~n^2/SALT, far below n^2."""
    from neo4j_blue_green_arrow_etl_spark.operators.dedup import (
        FUZZY_HOT_BLOCK,
        FUZZY_SALT,
        fuzzy_block_pairs,  # noqa: F401  (shape under test)
    )

    d = hot_block_docs
    sizes = d.groupBy("tok1").agg(F.count(F.lit(1)).alias("block_n"))
    hot_n = (
        sizes.filter(F.col("block_n") > FUZZY_HOT_BLOCK).agg(
            F.max("block_n")
        ).collect()[0][0]
    )
    assert hot_n == 2_000  # fixture sanity: the hot block IS hot
    # probe-side bucket sizes for the hot block, exactly as the operator salts
    probe = (
        d.join(sizes, "tok1")
        .filter(F.col("block_n") > FUZZY_HOT_BLOCK)
        .select(
            F.pmod(F.xxhash64("doc_id"), F.lit(FUZZY_SALT)).cast("int").alias("s")
        )
        .groupBy("s")
        .count()
        .collect()
    )
    assert len(probe) == FUZZY_SALT  # all sub-blocks populated
    worst_bucket = max(r["count"] for r in probe)
    # per-key pairs = hot_n * bucket  <<  hot_n^2 ; allow 2x hash slop
    assert hot_n * worst_bucket <= 2 * hot_n * hot_n // FUZZY_SALT


# --------------------------------------------------------------------------
# q_x24b_fuzzy_capped: hierarchical block cap (VERDICT r5 task 1)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def capped_block_docs(spark):
    """One hot tok1 block (600 docs) whose refined 2-token key splits it
    into 30 sub-blocks of 20 (under the cap), one PATHOLOGICAL block
    (200 docs sharing BOTH tokens -> sub-block still over the cap, star
    tier), and 100 cold docs in small blocks."""
    hot = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("The tok"),
            (F.col("id") % 30).cast("string"),
            F.lit(" body number "),
            (F.col("id") % 7).cast("string"),
        ).alias("text"),
    )
    patho = spark.range(600, 800).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("Same same payload "),
            (F.col("id") % 5).cast("string"),
        ).alias("text"),
    )
    cold = spark.range(800, 900).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("cold"),
            (F.col("id") % 20).cast("string"),
            F.lit(" text "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    from neo4j_blue_green_arrow_etl_spark.operators.dedup import (
        FUZZY_HEAD_CHARS,
    )

    toks = F.split(F.col("text"), " ")
    d = (
        hot.unionByName(patho)
        .unionByName(cold)
        .select(
            "doc_id",
            toks.getItem(0).alias("tok1"),
            F.concat(
                toks.getItem(0),
                F.lit(" "),
                F.coalesce(toks.getItem(1), F.lit("")),
            ).alias("tok2"),
            F.substring("text", 1, FUZZY_HEAD_CHARS).alias("head"),
        )
    )
    return d.cache()


def _naive_capped_pairs(d):
    """The cap semantics computed the dumb way — one blocking join
    filtered by the oracle predicate verbatim (no tiering, no salting,
    no star shortcuts). This IS the SQL oracle, expressed on the same
    DataFrame, so set-equality against it proves the tiered plan
    implements the declared semantics."""
    from neo4j_blue_green_arrow_etl_spark.operators.dedup import (
        FUZZY_BLOCK_CAP,
        FUZZY_MAX_DIST,
    )

    s1 = d.groupBy("tok1").agg(
        F.count(F.lit(1)).alias("n1"), F.min("doc_id").alias("rep1")
    )
    s2 = d.groupBy("tok1", "tok2").agg(
        F.count(F.lit(1)).alias("n2"), F.min("doc_id").alias("rep2")
    ).select(
        F.col("tok1").alias("s2_tok1"),
        F.col("tok2").alias("s2_tok2"),
        "n2",
        "rep2",
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        "tok1",
        F.col("tok2").alias("tok2_a"),
        F.col("head").alias("head_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        "tok1",
        F.col("tok2").alias("tok2_b"),
        F.col("head").alias("head_b"),
    )
    return (
        a.join(b, "tok1")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(s1, "tok1")
        .join(
            s2,
            (F.col("s2_tok1") == F.col("tok1"))
            & (F.col("s2_tok2") == F.col("tok2_a")),
        )
        .filter(
            (F.col("n1") <= FUZZY_BLOCK_CAP)
            | (F.col("doc_a") == F.col("rep1"))
            | (
                (F.col("tok2_a") == F.col("tok2_b"))
                & (
                    (F.col("n2") <= FUZZY_BLOCK_CAP)
                    | (F.col("doc_a") == F.col("rep2"))
                )
            )
        )
        .withColumn("dist", F.levenshtein("head_a", "head_b", FUZZY_MAX_DIST))
        .filter(F.col("dist") >= 0)
        .select("doc_a", "doc_b", "dist")
    )


def test_capped_fuzzy_matches_declared_semantics(spark, capped_block_docs):
    """The tiered plan (small all-pairs + refined sub-blocks + salted
    stars + distinct) must produce EXACTLY the pair set of the declared
    cap predicate — the same predicate the DuckDB oracle runs."""
    from neo4j_blue_green_arrow_etl_spark.operators.dedup import (
        fuzzy_block_pairs_capped,
    )

    d = capped_block_docs
    got = fuzzy_block_pairs_capped(d)
    want = _naive_capped_pairs(d)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_capped_fuzzy_bounds_pathological_block(spark, capped_block_docs):
    """A block whose members share BOTH blocking tokens (the worst
    case: re-blocking cannot split it) must emit at most 2(n-1) pairs —
    the star bound — where the uncapped form emits ~n^2/2."""
    from neo4j_blue_green_arrow_etl_spark.operators.dedup import (
        fuzzy_block_pairs_capped,
    )

    d = capped_block_docs
    patho = fuzzy_block_pairs_capped(d).filter(
        (F.col("doc_a") >= 600) & (F.col("doc_a") < 800)
    )
    n = 200  # fixture: docs 600..799 share tok1 AND tok2
    assert patho.count() <= 2 * (n - 1)
    # uncapped within the same block: every pair is within distance
    # (heads differ by one digit), i.e. ~n^2/2 — the cap is the only
    # thing between this block and quadratic verify volume
    assert patho.count() > 0


def test_capped_fuzzy_recall_via_refinement(spark, capped_block_docs):
    """Sub-blocks under the cap keep ALL their pairs: for the hot block
    whose 2-token key splits it into under-cap sub-blocks, every
    within-sub-block near-dup pair must survive the cap."""
    from neo4j_blue_green_arrow_etl_spark.operators.dedup import (
        FUZZY_MAX_DIST,
        fuzzy_block_pairs_capped,
    )

    d = capped_block_docs
    hot = d.filter(F.col("doc_id") < 600)
    a = hot.select(
        F.col("doc_id").alias("doc_a"), "tok2", F.col("head").alias("head_a")
    )
    b = hot.select(
        F.col("doc_id").alias("doc_b"), "tok2", F.col("head").alias("head_b")
    )
    sub_pairs = (
        a.join(b, "tok2")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("dist", F.levenshtein("head_a", "head_b", FUZZY_MAX_DIST))
        .filter(F.col("dist") >= 0)
        .select("doc_a", "doc_b", "dist")
    )
    got = fuzzy_block_pairs_capped(d).filter(F.col("doc_b") < 600)
    assert sub_pairs.exceptAll(got).isEmpty()
    assert sub_pairs.count() > 0


def test_capped_fuzzy_single_token_docs_not_dropped(spark):
    """tok2 (the refined 2-token blocking key) is null-safe: a one-word
    document must still participate in blocking — a NULL key would
    silently drop it from every equi-join tier."""
    from neo4j_blue_green_arrow_etl_spark.operators.dedup import (
        fuzzy_block_pairs_capped,
    )

    docs = spark.createDataFrame(
        [(1, "solo"), (2, "solo"), (3, "solo extra words here")],
        "doc_id long, text string",
    )
    # build the blocking projection exactly as _fuzzy_input does, from
    # the in-memory frame (bypassing only the parquet reader): F.get is
    # the null-safe accessor — getItem(1) THROWS under Spark 4 ANSI
    # mode for a one-token doc
    toks = F.split(F.col("text"), " ")
    frame = docs.select(
        "doc_id",
        toks.getItem(0).alias("tok1"),
        F.concat(
            toks.getItem(0), F.lit(" "), F.coalesce(F.get(toks, 1), F.lit(""))
        ).alias("tok2"),
        F.substring("text", 1, 40).alias("head"),
    )
    assert frame.filter(F.col("tok2").isNull()).count() == 0
    pairs = {
        (r.doc_a, r.doc_b) for r in fuzzy_block_pairs_capped(frame).collect()
    }
    # the one-word docs block on tok1="solo" and are identical heads;
    # doc 3 shares the block but its head is 17 edits away (> max 10)
    assert pairs == {(1, 2)}
