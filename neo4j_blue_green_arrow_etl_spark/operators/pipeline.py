"""Training-data pipeline operators: deterministic dataset splitting and
near-duplicate clustering.

These extend the dedup family (dedup.py) with the two steps a real
100 TB corpus pipeline runs after pair generation:

- **q_x4_split**: assign every document to train/val/test by hashing its
  CONTENT (not its id) — deterministic, reproducible across runs and
  engines, and stable under re-partitioning or re-ingestion order. The
  bucket comes from the first hex digit of md5(text): 12/16 train,
  2/16 val, 2/16 test. Pure column expressions; map-only, no shuffle.

- **q_x5_dupclusters**: group near-duplicate PAIRS (the exact-Jaccard
  graph from q_dedup_ngram) into CLUSTERS via connected components, and
  mark the canonical keeper (min doc_id) per cluster. The Spark side is
  iterative min-label propagation — each round is one join + one
  aggregation, lineage truncated per round with localCheckpoint; rounds
  are bounded by the component diameter (near-dup clusters are shallow:
  duplicates of a document are duplicates of each other, so diameters
  of 2-4 dominate). At 100 TB the same loop shape runs with the
  alternating large-star/small-star optimization; the driver does ONLY
  control flow (one count per round), never touches data rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .curation import _BUDGET_BINS
from .dedup import (
    _FUZZY_CAPPED_PAIRS_SQL,
    _NGRAM_ORACLE,
    FUZZY_BLOCK_CAP,
    FUZZY_HEAD_CHARS,
    FUZZY_MAX_DIST,
)
from .relational import barrier_sort, register

# md5 hex digit boundaries: 0..b train (75%), c..d val (12.5%), e..f test
_TRAIN_MAX = "b"
_VAL_MAX = "d"

MAX_CC_ROUNDS = 20


@register(
    "q_x4_split",
    oracle=(
        "SELECT doc_id, CASE "
        f"WHEN substr(md5(text), 1, 1) <= '{_TRAIN_MAX}' THEN 'train' "
        f"WHEN substr(md5(text), 1, 1) <= '{_VAL_MAX}' THEN 'val' "
        "ELSE 'test' END AS split "
        "FROM documents ORDER BY doc_id"
    ),
    doc="Deterministic content-hash train/val/test split (75/12.5/12.5): "
    "bucket = first hex digit of md5(text). Hashing CONTENT makes the "
    "split stable under re-ingestion and pushes exact duplicates into "
    "the SAME split (no train/test leakage from dup pairs). Map-only "
    "column expressions — scales with scan bandwidth, no shuffle.",
)
def q_x4_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    digit = F.substring(F.md5(F.encode("text", "UTF-8")), 1, 1)
    return d.select(
        "doc_id",
        F.when(digit <= _TRAIN_MAX, "train")
        .when(digit <= _VAL_MAX, "val")
        .otherwise("test")
        .alias("split"),
    ).orderBy("doc_id")


_CLUSTER_ORACLE = f"""
WITH RECURSIVE pairs AS ({_NGRAM_ORACLE.replace("ORDER BY 1, 2", "")}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
)
SELECT node AS doc_id,
       LEAST(node, MIN(r)) AS cluster,
       node = LEAST(node, MIN(r)) AS is_canonical
FROM reach GROUP BY node ORDER BY doc_id
"""


@register(
    "q_x5_dupclusters",
    oracle=_CLUSTER_ORACLE,
    doc="Near-dup CLUSTERING: connected components over the exact-Jaccard "
    "pair graph (q_dedup_ngram), cluster id = min doc_id of the "
    "component, is_canonical marks the keeper. Spark: iterative "
    "min-label propagation (join + min-agg per round, localCheckpoint "
    "truncates lineage, rounds <= component diameter). Oracle: recursive "
    "CTE transitive closure. Only docs participating in at least one "
    "near-dup pair appear; everything else is implicitly its own "
    "singleton cluster.",
)
def q_x5_dupclusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import ngram_pair_edges
    from .graph import connected_components

    # the pair pipeline is materialized ONCE inside connected_components
    # (every propagation round joins the edge set; without that each
    # round would re-run the whole shingle/Jaccard lineage — measured
    # 13.6s -> ~3s at sf0.1). UNSORTED edges (r13): the registered
    # q_dedup_ngram output sorts its pairs, but the CC checkpoint is
    # order-insensitive — the sort's barrier repartition + range
    # exchange were pure waste on this path.
    pairs = ngram_pair_edges(spark, sf_dir)
    labels = connected_components(pairs, max_rounds=MAX_CC_ROUNDS)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    ).transform(barrier_sort("doc_id"))


# Sequence packing: documents are packed greedily (in doc_id order) into
# fixed token-budget bins, independently within each of PACK_SHARDS
# hash shards. Sharding is what makes this scale: a single global
# running sum would be one reducer; per-shard windows are independent
# reducers, and packing quality is unaffected because any shard's local
# greedy fill is as tight as the global one in expectation.
PACK_CAPACITY = 2048  # tokens per packed sequence
PACK_SHARDS = 8
_PACK_BIN_STRIDE = 1_000_000  # bin_id = shard * stride + local bin


@register(
    "q_x11_pack",
    oracle=(
        "SELECT doc_id, n_tokens, "
        f"CAST((doc_id % {PACK_SHARDS}) * {_PACK_BIN_STRIDE} + "
        f"COALESCE(SUM(n_tokens) OVER (PARTITION BY doc_id % {PACK_SHARDS} "
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        f"// {PACK_CAPACITY} AS BIGINT) AS bin_id "
        "FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens "
        "FROM documents) ORDER BY doc_id"
    ),
    doc=f"Sequence packing for training: assign each document to a "
    f"{PACK_CAPACITY}-token bin by a running token count in doc_id order, "
    f"computed independently inside {PACK_SHARDS} hash shards "
    "(bin_id = shard * stride + prev_cumsum // capacity). The per-shard "
    "window is the scale story: running sums never cross shard "
    "boundaries, so there is no single-reducer global window — shard "
    "count rises with the cluster and each reducer streams its shard "
    "once. A document whose tokens straddle a boundary starts the next "
    "bin (greedy contiguous fill, the GPT-style packing contract).",
)
def q_x11_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = d.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    shard = F.col("doc_id") % PACK_SHARDS
    w = (
        Window.partitionBy(shard)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        "doc_id",
        "n_tokens",
        (
            shard * _PACK_BIN_STRIDE
            + F.floor(prev_cum / PACK_CAPACITY).cast("long")
        ).alias("bin_id"),
    ).orderBy("doc_id")


QUALITY_FLOOR = 0.5


def _corpus_oracle() -> str:
    from .textops import PUNCT_CLASS

    score = "(1.0 - n_punct * 1.0 / NULLIF(n_chars, 0)) * LEAST(1.0, n_tokens / 100.0)"
    return (
        "WITH m AS (SELECT doc_id, text, "
        "len(string_split(text, ' ')) AS n_tokens, "
        f"length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS n_punct, "
        "length(text) AS n_chars FROM documents "
        "QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY text)) "
        f"SELECT doc_id, CASE WHEN substr(md5(text), 1, 1) <= '{_TRAIN_MAX}' "
        f"THEN 'train' WHEN substr(md5(text), 1, 1) <= '{_VAL_MAX}' THEN 'val' "
        f"ELSE 'test' END AS split, n_tokens, {score} AS quality_score "
        f"FROM m WHERE {score} >= {QUALITY_FLOOR} ORDER BY doc_id"
    )


@register(
    "q_x7_corpus",
    oracle=_corpus_oracle(),
    doc="Corpus curation capstone — the three pipeline stages composed "
    "into ONE plan: exact-dedup to the canonical (min-id) copy per "
    f"distinct text, quality-filter at score >= {QUALITY_FLOOR}, and "
    "content-hash split assignment. One window shuffle (dedup) then "
    "map-only expressions; Catalyst fuses the quality filter and split "
    "into the same stage, so curating N documents costs one shuffle "
    "of (text-partitioned) rows however many stages compose.",
)
def q_x7_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .textops import PUNCT_CLASS

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    punct_ratio = F.length(
        F.regexp_replace("text", PUNCT_CLASS, "")
    ) / F.nullif(F.length("text"), F.lit(0))
    score = (F.lit(1.0) - punct_ratio) * F.least(
        F.lit(1.0), n_tokens / F.lit(100.0)
    )
    digit = F.substring(F.md5(F.encode("text", "UTF-8")), 1, 1)
    w = Window.partitionBy("text")
    return (
        d.withColumn("_keep", F.col("doc_id") == F.min("doc_id").over(w))
        .filter(F.col("_keep") & (score >= QUALITY_FLOOR))
        .select(
            "doc_id",
            F.when(digit <= _TRAIN_MAX, "train")
            .when(digit <= _VAL_MAX, "val")
            .otherwise("test")
            .alias("split"),
            n_tokens.alias("n_tokens"),
            score.alias("quality_score"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_x5b_clusters_star",
    oracle=_CLUSTER_ORACLE,
    doc="q_x5_dupclusters computed by the ALTERNATING LARGE-STAR/"
    "SMALL-STAR contraction instead of plain min-label propagation — "
    "the O(log n)-round MapReduce-CC algorithm the plain loop's "
    "docstring names as the 100 TB shape, now implemented "
    "(graph.connected_components_star) and proven equivalent by "
    "sharing q_x5's recursive-CTE oracle verbatim. Each half-round is "
    "one groupBy-min + one join on node id; a 2^k-deep path collapses "
    "in ~k alternations where plain propagation needs 2^k rounds "
    "(pinned by tests/test_pipeline_ops.py on a 64-node path).",
)
def q_x5b_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import ngram_pair_edges
    from .graph import connected_components_star

    # unsorted edges — same r13 reasoning as q_x5_dupclusters
    pairs = ngram_pair_edges(spark, sf_dir)
    labels = connected_components_star(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    ).transform(barrier_sort("doc_id"))


_ER_ORACLE = f"""
WITH RECURSIVE d AS (
  SELECT doc_id, string_split(text, ' ')[1] AS tok1,
         substr(text, 1, {FUZZY_HEAD_CHARS}) AS head FROM documents
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM d a JOIN d b ON a.tok1 = b.tok1 AND a.doc_id < b.doc_id
  WHERE levenshtein(a.head, b.head) <= {FUZZY_MAX_DIST}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
)
SELECT node AS doc_id,
       LEAST(node, MIN(r)) AS cluster,
       node = LEAST(node, MIN(r)) AS is_canonical
FROM reach GROUP BY node ORDER BY doc_id
"""


@register(
    "q_x31_erclusters",
    oracle=_ER_ORACLE,
    doc="Entity resolution end-to-end: the classic three-stage pipeline "
    "composed — BLOCK (first-token key bounds the pair space), MATCH "
    "(threshold-banded Levenshtein within blocks, q_x24's join), "
    "CLUSTER (large-star/small-star connected components over the "
    "match graph, canonical = min id — the O(log n) contraction, not "
    "plain propagation). Oracle: recursive-CTE transitive closure over "
    "the same match pairs. Scale: each stage is the proven shape of "
    "its standalone query — blocking equi-join, per-block verify, "
    "log-round contraction; nothing quadratic outside a block, "
    "nothing on the driver but per-round fingerprints. r10: the MATCH "
    "tier is DUPLICATE-MASS ROUTED like q_x45's — the block-size "
    "histogram (one aggregation on the join's own key) estimates pair "
    "volume first, and corpora above FUZZY_BLOCK_MASS_PER_DOC take "
    "q_x24b's capped tier (q_x31b's stage); both oracle SFs measure "
    "far below the bar, so the gated output is byte-identical to the "
    "uncapped tier (calibration at dedup.py). r11 (ADVICE r10): the "
    "decision is LOGGED and the bar is caller-visible — "
    "SPARK_GRAFT_FUZZY_BLOCK_MASS_PER_DOC overrides it per-run "
    "(huge=force exact, 0=force capped).",
)
def q_x31_erclusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import (
        FUZZY_BLOCK_MASS_PER_DOC,
        _docs,
        _fuzzy_input,
        fuzzy_block_mass,
        fuzzy_block_pairs,
        fuzzy_block_pairs_capped,
        fuzzy_blocking_table,
    )
    from .graph import connected_components_star

    # DUPLICATE-MASS ROUTED pair tier (r10, mirroring q_x45's router):
    # one aggregation over the blocking table — the same block-size
    # histogram the salted join computes anyway — estimates candidate
    # pair volume; a corpus whose block mass is super-linear in size
    # (every measured adversarial tree, no proportional one —
    # calibration at dedup.FUZZY_BLOCK_MASS_PER_DOC) takes the capped
    # tier (q_x31b's pair stage) instead of the uncapped quadratic
    # join. Both oracle SFs measure far below the bar, so the gated
    # output is byte-identical to the uncapped tier.
    from .dedup import route_by_mass

    docs = _docs(spark, sf_dir)
    d = fuzzy_blocking_table(docs)
    if route_by_mass(
        "q_x31_erclusters",
        fuzzy_block_mass(d),
        # plain-read count: the row count is layout-independent and the
        # un-rescued scan counts without paying the rescue exchange
        spark.read.parquet(f"{sf_dir}/documents.parquet").count(),
        FUZZY_BLOCK_MASS_PER_DOC,
        "SPARK_GRAFT_FUZZY_BLOCK_MASS_PER_DOC",
    ):
        # UNSORTED capped pairs (r13): q_x24b's registered output sorts
        # them; the CC checkpoint never needed the sort
        pairs = fuzzy_block_pairs_capped(_fuzzy_input(spark, sf_dir)).select(
            "doc_a", "doc_b"
        )
    else:
        pairs = fuzzy_block_pairs(d).select("doc_a", "doc_b")
    labels = connected_components_star(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    ).transform(barrier_sort("doc_id"))


# Cap-aware ER oracle: same recursive-CTE transitive closure, but over
# the CAPPED match pairs (q_x24b's SQL, shared verbatim) — blocks over
# FUZZY_BLOCK_CAP contribute only rep-member edges.
_ER_CAPPED_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {_FUZZY_CAPPED_PAIRS_SQL}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
)
SELECT node AS doc_id,
       LEAST(node, MIN(r)) AS cluster,
       node = LEAST(node, MIN(r)) AS is_canonical
FROM reach GROUP BY node ORDER BY doc_id
"""


@register(
    "q_x31b_erclusters_capped",
    oracle=_ER_CAPPED_ORACLE,
    doc="Entity resolution capstone over the CAPPED match tier: "
    "q_x31's BLOCK-MATCH-CLUSTER pipeline with q_x24b_fuzzy_capped as "
    f"the MATCH stage — blocks over {FUZZY_BLOCK_CAP} docs contribute "
    "star edges (member vs min-id rep) only, so the pair volume "
    "feeding connected components is linear in corpus size; this is "
    "the form a 100 TB ER run executes. Within a genuinely-duplicate "
    "hot block the star edges keep the component intact (every member "
    "still links to the rep); members similar to each other but not "
    "to the rep can split — cluster-level recall vs the uncapped "
    "capstone is measured in RECALL_r6. Oracle: recursive-CTE closure "
    "over the same capped pair SQL, shared verbatim with q_x24b.",
)
def q_x31b_erclusters_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _fuzzy_input, fuzzy_block_pairs_capped
    from .graph import connected_components_star

    # unsorted capped pairs (r13): q_x24b's registered output sorts
    # them; the CC checkpoint never needed the sort
    pairs = fuzzy_block_pairs_capped(_fuzzy_input(spark, sf_dir)).select(
        "doc_a", "doc_b"
    )
    labels = connected_components_star(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    ).transform(barrier_sort("doc_id"))


# ---------------------------------------------------------------------------
# Composed curation pipeline (oracle-gated capstone)
# ---------------------------------------------------------------------------

_CURATE_ORACLE = f"""
WITH RECURSIVE pairs AS ({_NGRAM_ORACLE.replace("ORDER BY 1, 2", "")}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
),
dropped AS (
  SELECT node FROM reach GROUP BY node HAVING node <> LEAST(node, MIN(r))
),
s AS (
  SELECT doc_id, n_chars,
         CAST(FLOOR(len(list_distinct(string_split(text, ' '))) /
                    len(string_split(text, ' ')) * {_BUDGET_BINS}) AS INT) AS qbin
  FROM documents
  WHERE doc_id NOT IN (SELECT node FROM dropped)
),
t AS (SELECT CAST(FLOOR(SUM(n_chars) * 0.6) AS BIGINT) AS budget FROM s),
o AS (SELECT s.*, SUM(n_chars) OVER (ORDER BY qbin DESC, doc_id) AS rs
      FROM s)
SELECT doc_id, qbin, CAST(n_chars AS BIGINT) AS n_chars
FROM o, t WHERE rs <= budget ORDER BY doc_id
"""


@register(
    "q_x45_curate",
    oracle=_CURATE_ORACLE,
    doc="Composed curation capstone, ORACLE-GATED end to end: near-dup "
    "pairs (q_dedup_ngram's exact tier, so the whole composition stays "
    "SQL-checkable) -> large-star/small-star connected components -> "
    "drop non-canonical members -> token-budget selection over the "
    "survivors (q_x42's histogram-cutoff engine via "
    "token_budget_select). This registers the MULTI-STAGE plan a real "
    "curation run executes — dedup shuffle feeding an iterative CC "
    "whose labels anti-join the corpus into the budget histogram — as "
    "one correctness-gated query; the production-scale twin swaps the "
    "pair stage for MinHash-LSH (tools/bench_curation.py measures that "
    "form at x100: 500k docs in 30.2 s). r10: the pair tier is "
    "DUPLICATE-MASS ROUTED — a one-aggregation shingle-bucket "
    "histogram (shingle_pair_mass, over postings the exact tier needs "
    "anyway) estimates candidate-pair volume first; corpora whose "
    "mass/doc exceeds PAIR_MASS_PER_DOC (every measured adversarial "
    "tree, no proportional one — calibration at dedup.py) take "
    "q_x24b_fuzzy_capped's bounded tier instead of the "
    "quadratic-by-construction exact join (173 s at x32 in "
    "SCALE_PROBE_CAPSTONES_r9), mirroring the dedup-index probe "
    "router. Both oracle SFs measure far below the bar, so the gated "
    "output is byte-identical to the exact tier. r11 (ADVICE r10): "
    "the routing decision is LOGGED with the measured mass and the "
    "bar is caller-visible — SPARK_GRAFT_PAIR_MASS_PER_DOC overrides "
    "it per-run (huge=force exact, 0=force capped). Scale: each stage is "
    "its standalone query's proven shape; the survivor anti-join "
    "carries NO broadcast hint — on a clean corpus the dropped set is "
    "small and AQE broadcasts it at runtime, but on a "
    "majority-duplicate crawl (the repo's own adversarial x100 run "
    "drops 495k of 500k docs) a forced broadcast of most doc_ids is "
    "an executor-memory killer, so the strategy is left to AQE's "
    "measured size (pinned by tests/test_pipeline_ops.py::"
    "test_curate_anti_join_not_forced_broadcast).",
)
def q_x45_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import token_budget_select
    from .dedup import (
        PAIR_MASS_PER_DOC,
        _docs,
        _fuzzy_input,
        fuzzy_block_pairs_capped,
        hashed_shingle_postings,
        ngram_match_pairs,
        shingle_pair_mass,
    )
    from .graph import connected_components_star

    from .dedup import route_by_mass

    docs = _docs(spark, sf_dir)
    sh = hashed_shingle_postings(docs).cache()
    mass = shingle_pair_mass(sh)  # materializes sh; reused below
    if route_by_mass(
        "q_x45_curate",
        mass,
        # plain-read count — the rescue exchange buys nothing for a
        # row count (r13; the rescued frame paid scan+exchange+agg)
        spark.read.parquet(f"{sf_dir}/documents.parquet").count(),
        PAIR_MASS_PER_DOC,
        "SPARK_GRAFT_PAIR_MASS_PER_DOC",
    ):
        # duplicate-adversarial corpus: the exact tier's verify volume
        # is quadratic by construction — run the capped tier (q_x45b's
        # pair stage) instead. The shingle postings are dropped; their
        # build cost is noise next to the quadratic join avoided.
        sh.unpersist()
        pairs = fuzzy_block_pairs_capped(_fuzzy_input(spark, sf_dir)).select(
            "doc_a", "doc_b"
        )
    else:
        # unsorted pairs (r13): the CC checkpoint never needed
        # q_dedup_ngram's registered global sort
        pairs = ngram_match_pairs(sh).select("doc_a", "doc_b")
    labels = connected_components_star(pairs)
    dropped = labels.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    words = F.split(F.col("text"), " ")
    qbin = F.floor(
        F.size(F.array_distinct(words)) / F.size(words) * _BUDGET_BINS
    ).cast("int")
    survivors = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .join(dropped, "doc_id", "left_anti")
        .select("doc_id", "n_chars", qbin.alias("qbin"))
    )
    return token_budget_select(survivors).orderBy("doc_id")


# Cap-aware curation oracle: q_x45's pipeline verbatim with the CAPPED
# fuzzy pair tier (q_x24b's SQL, shared verbatim) as the pair stage.
_CURATE_CAPPED_ORACLE = f"""
WITH RECURSIVE pairs AS ({_FUZZY_CAPPED_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
),
dropped AS (
  SELECT node FROM reach GROUP BY node HAVING node <> LEAST(node, MIN(r))
),
s AS (
  SELECT doc_id, n_chars,
         CAST(FLOOR(len(list_distinct(string_split(text, ' '))) /
                    len(string_split(text, ' ')) * {_BUDGET_BINS}) AS INT) AS qbin
  FROM documents
  WHERE doc_id NOT IN (SELECT node FROM dropped)
),
t AS (SELECT CAST(FLOOR(SUM(n_chars) * 0.6) AS BIGINT) AS budget FROM s),
o AS (SELECT s.*, SUM(n_chars) OVER (ORDER BY qbin DESC, doc_id) AS rs
      FROM s)
SELECT doc_id, qbin, CAST(n_chars AS BIGINT) AS n_chars
FROM o, t WHERE rs <= budget ORDER BY doc_id
"""


@register(
    "q_x45b_curate_capped",
    oracle=_CURATE_CAPPED_ORACLE,
    doc="Composed curation capstone over the CAPPED pair tier — the "
    "AT-SCALE default form of q_x45: the same four-stage plan "
    "(pairs -> connected components -> drop non-canonical -> "
    "token-budget selection) with q_x24b_fuzzy_capped as the pair "
    f"stage, whose per-block pair-volume cap (blocks over "
    f"{FUZZY_BLOCK_CAP} docs re-block on a 2-token key; oversized "
    "sub-blocks emit star edges only) bounds total verify/CC edge "
    "volume LINEARLY in corpus size. q_x45's exact tier is the "
    "correctness ceiling but its duplicate-adversarial regime grows "
    "pair volume quadratically BY CONSTRUCTION (SCALE_PROBE_CAPSTONES "
    "r8: exponent 1.241 suffix-regime at x32 vs the capped tier's "
    "0.097); this twin is what a 100 TB curation run executes when "
    "the crawl is duplicate-heavy. Star edges keep genuinely-"
    "duplicate blocks in one component (every member links the rep), "
    "so the drop stage's canonical-per-cluster semantics carry over; "
    "fully oracle-gated because the capped tier is deterministic SQL "
    "(recursive-CTE closure over q_x24b's pair SQL, shared "
    "verbatim).",
)
def q_x45b_curate_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import token_budget_select
    from .dedup import _fuzzy_input, fuzzy_block_pairs_capped
    from .graph import connected_components_star

    # unsorted capped pairs (r13) — same reasoning as q_x31b
    pairs = fuzzy_block_pairs_capped(_fuzzy_input(spark, sf_dir)).select(
        "doc_a", "doc_b"
    )
    labels = connected_components_star(pairs)
    dropped = labels.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    words = F.split(F.col("text"), " ")
    qbin = F.floor(
        F.size(F.array_distinct(words)) / F.size(words) * _BUDGET_BINS
    ).cast("int")
    survivors = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .join(dropped, "doc_id", "left_anti")
        .select("doc_id", "n_chars", qbin.alias("qbin"))
    )
    return token_budget_select(survivors).orderBy("doc_id")
