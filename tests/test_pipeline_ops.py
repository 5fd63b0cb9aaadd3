"""Training-data pipeline operators: deterministic split + dup clustering."""

from __future__ import annotations

from neo4j_blue_green_arrow_etl_spark.operators import REGISTRY

from conftest import SF_ORACLE, SF_SMOKE


def test_split_deterministic_and_partition_stable(spark):
    a = {r.doc_id: r.split for r in REGISTRY["q_x4_split"].spark(spark, SF_ORACLE).collect()}
    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").repartition(17)
    d.createOrReplaceTempView("_docs_repart")
    b = {r.doc_id: r.split for r in REGISTRY["q_x4_split"].spark(spark, SF_ORACLE).collect()}
    assert a == b
    # content-hash split: all three splits populated, roughly 75/12.5/12.5
    from collections import Counter

    c = Counter(a.values())
    n = sum(c.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.60 <= c["train"] / n <= 0.90


def test_split_sends_exact_duplicates_to_same_split(spark, tmp_path):
    """Hashing CONTENT (not id) means duplicate texts can never straddle
    train/test — the no-leakage property the operator exists for."""
    base = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(50)
    from pyspark.sql import functions as F

    dupes = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    base.union(dupes).write.parquet(str(tmp_path / "documents.parquet"))
    split = {
        r.doc_id: r.split
        for r in REGISTRY["q_x4_split"].spark(spark, str(tmp_path)).collect()
    }
    assert len(split) == 100
    originals = [d for d in split if d < 1_000_000]
    assert len(originals) == 50
    for doc_id in originals:
        assert split[doc_id] == split[doc_id + 1_000_000]


def test_dupclusters_are_true_connected_components(spark):
    pairs = [
        (r.doc_a, r.doc_b)
        for r in REGISTRY["q_dedup_ngram"].spark(spark, SF_ORACLE).collect()
    ]
    rows = REGISTRY["q_x5_dupclusters"].spark(spark, SF_ORACLE).collect()
    cluster = {r.doc_id: r.cluster for r in rows}
    # every paired doc appears; endpoints of every edge share a cluster
    for a, b in pairs:
        assert cluster[a] == cluster[b]
    # cluster id is the component minimum; canonical flag matches
    members: dict[int, list[int]] = {}
    for r in rows:
        members.setdefault(r.cluster, []).append(r.doc_id)
    for cid, ids in members.items():
        assert cid == min(ids)
    for r in rows:
        assert r.is_canonical == (r.doc_id == r.cluster)


def test_dupclusters_empty_graph_is_empty(spark):
    """Smoke data with no near-dup pairs must yield an empty result (and
    converge in zero rounds), not error."""
    n_pairs = REGISTRY["q_dedup_ngram"].spark(spark, SF_SMOKE).count()
    out = REGISTRY["q_x5_dupclusters"].spark(spark, SF_SMOKE).count()
    if n_pairs == 0:
        assert out == 0
    else:
        assert out >= 2 * 1  # any pair yields >= 2 member rows


def test_connected_components_operator_direct(spark):
    """The reusable CC operator on a hand-built graph: two components
    {1,2,3,9} (chain) and {5,7}, singleton edges excluded by contract."""
    from neo4j_blue_green_arrow_etl_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 7)], "a long, b long"
    )
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5}


def test_bfs_distances_operator_direct(spark):
    """Multi-source BFS on a hand-built graph: path 1-2-3-4-5 plus a
    branch 2-10, seeds {1, 10}; node 99 in a separate component is
    unreachable and must be absent. Depth bound truncates at max_hops."""
    from neo4j_blue_green_arrow_etl_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 10), (99, 98)], "a long, b long"
    )
    seeds = spark.createDataFrame([(1,), (10,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(edges, seeds, 4).collect()}
    assert got == {1: 0, 10: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    # depth bound: with max_hops=2, nodes at distance 3+ are absent
    got2 = {r.node: r.dist for r in bfs_distances(edges, seeds, 2).collect()}
    assert got2 == {1: 0, 10: 0, 2: 1, 3: 2}
    # shuffle-join path computes the same distances
    got3 = {
        r.node: r.dist
        for r in bfs_distances(edges, seeds, 4, broadcast_frontier=False).collect()
    }
    assert got3 == got


def test_range_join_band_boundaries(spark, tmp_path):
    """q_j10_range's band is half-open [err_ts - 30min, err_ts): a click
    exactly 30 minutes before the error matches; a click AT the error
    timestamp does not; clicks after the error never match."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 12:00:00")
    mins = lambda m: (base + pd.Timedelta(minutes=m)).to_datetime64()
    rows = [
        # (event_id, ts, user_id, event_type)
        (1, mins(0), 7, "error"),
        (2, mins(-30), 7, "click"),   # exactly -30min -> matches
        (3, mins(-31), 7, "click"),   # outside band
        (4, mins(0), 7, "click"),     # at error ts -> excluded
        (5, mins(-5), 8, "click"),    # other user
    ]
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.Series([r[1] for r in rows]).astype("datetime64[us]"),
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")
    from neo4j_blue_green_arrow_etl_spark.operators import REGISTRY

    out = REGISTRY["q_j10_range"].spark(spark, str(tmp_path)).collect()
    assert [(r.error_id, r.click_id, r.gap_us) for r in out] == [
        (1, 2, 30 * 60 * 1_000_000)
    ]


def test_star_cc_collapses_deep_chain_in_log_rounds(spark):
    """A 64-node path graph: plain min-label propagation needs ~63
    rounds (and must raise at the default 20-round budget), while the
    large-star/small-star contraction converges inside it — the
    O(diameter) vs O(log n) separation that motivates the star
    algorithm at 100 TB."""
    import pytest

    from neo4j_blue_green_arrow_etl_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_rounds=20)
    labels = connected_components_star(chain, max_rounds=20)
    rows = labels.collect()
    assert len(rows) == 64
    assert all(r.comp == 0 for r in rows)


def test_star_cc_matches_plain_cc_on_pair_graph(spark):
    """Both CC implementations agree label-for-label on the real
    near-dup pair graph (two components of different shapes plus
    whatever sf0.001 contains)."""
    from neo4j_blue_green_arrow_etl_spark.operators import REGISTRY

    plain = {
        (r.doc_id, r.cluster, r.is_canonical)
        for r in REGISTRY["q_x5_dupclusters"].spark(spark, SF_SMOKE).collect()
    }
    star = {
        (r.doc_id, r.cluster, r.is_canonical)
        for r in REGISTRY["q_x5b_clusters_star"].spark(spark, SF_SMOKE).collect()
    }
    assert plain == star


def test_erclusters_consistent_with_fuzzy_pairs(spark):
    """Cross-operator invariant: q_x31's clusters must exactly cover
    the fuzzy match graph — every doc in a cluster appears in >= 1
    match pair, both ends of every pair share a cluster, and the
    canonical is the component minimum."""
    pairs = [
        (r.doc_a, r.doc_b)
        for r in REGISTRY["q_x24_fuzzy"].spark(spark, SF_SMOKE).collect()
    ]
    rows = REGISTRY["q_x31_erclusters"].spark(spark, SF_SMOKE).collect()
    cluster = {r.doc_id: r.cluster for r in rows}
    in_pairs = {d for p in pairs for d in p}
    assert set(cluster) == in_pairs
    for a, b in pairs:
        assert cluster[a] == cluster[b], (a, b)
    by_comp: dict[int, list[int]] = {}
    for d, c in cluster.items():
        by_comp.setdefault(c, []).append(d)
    for c, members in by_comp.items():
        assert c == min(members)
    canon = {r.doc_id for r in rows if r.is_canonical}
    assert canon == set(by_comp)


def test_curate_anti_join_not_forced_broadcast(spark):
    """ADVICE r6: q_x45's survivor anti-join must NOT hard-code a
    broadcast hint — the adversarial x100 bench drops 495k of 500k
    docs, so on a majority-duplicate corpus a forced broadcast of the
    dropped set is a near-corpus-size executor-memory bomb. AQE is
    free to CHOOSE broadcast at runtime when the set measures small
    (expected at test SF); what this pins is the absence of the
    ResolvedHint in the logical plan, i.e. the choice stays AQE's."""
    df = REGISTRY["q_x45_curate"].spark(spark, SF_ORACLE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # the composed plan legitimately contains one-row broadcast hints
    # (token_budget_select's scalar budget crossJoin), so the check is
    # scoped to the LeftAnti join's RIGHT child: a reintroduced
    # F.broadcast(dropped) resolves to a ResolvedHint immediately
    # under the anti-join.
    lines = analyzed.splitlines()
    anti = [i for i, ln in enumerate(lines) if "Join LeftAnti" in ln]
    assert anti, analyzed  # plan shape changed? test must be updated
    for i in anti:
        depth = lines[i].index("Join LeftAnti")
        for ln in lines[i + 1 :]:
            if len(ln) > depth and ln[depth : depth + 2] == "+-":
                assert "ResolvedHint" not in ln, ln
                break
    # and the composed result still produces rows (value equality is
    # the driver's oracle gate)
    assert df.count() > 0


# ---------------------------------------------------------------------------
# q_x45 duplicate-mass routing (r10)
# ---------------------------------------------------------------------------


def test_x45_routes_exact_on_proportional_corpus(spark, monkeypatch):
    """On a proportional corpus (the oracle regime) the router must run
    the EXACT pair tier — byte-identical output to the pre-router
    composition, which the oracle sweep gates."""
    import neo4j_blue_green_arrow_etl_spark.operators.dedup as dd
    from neo4j_blue_green_arrow_etl_spark.operators import REGISTRY

    from conftest import SF_SMOKE

    calls = {"exact": 0, "capped": 0}
    real_exact, real_capped = dd.ngram_match_pairs, dd.fuzzy_block_pairs_capped

    def spy_exact(sh):
        calls["exact"] += 1
        return real_exact(sh)

    def spy_capped(d):
        calls["capped"] += 1
        return real_capped(d)

    # q_x45_curate imports both pair stages from dedup at call time
    monkeypatch.setattr(dd, "ngram_match_pairs", spy_exact)
    monkeypatch.setattr(dd, "fuzzy_block_pairs_capped", spy_capped)
    df = REGISTRY["q_x45_curate"].spark(spark, SF_SMOKE)
    n = df.count()
    assert calls == {"exact": 1, "capped": 0}
    assert n > 0


def test_route_by_mass_is_visible_and_overridable(monkeypatch, caplog):
    """ADVICE r10: the duplicate-mass routing is a SEMANTIC switch, so
    it must be (a) logged with the measured mass vs the bar in force,
    and (b) caller-tunable — the env override pins either tier
    explicitly (huge = force exact, 0 = force capped)."""
    import logging

    from neo4j_blue_green_arrow_etl_spark.operators.dedup import (
        route_by_mass,
    )

    env = "SPARK_GRAFT_PAIR_MASS_PER_DOC"
    monkeypatch.delenv(env, raising=False)
    with caplog.at_level(logging.INFO):
        # default bar: 600/doc vs bar 500 -> capped
        assert route_by_mass("q_test", 600_000.0, 1000, 500.0, env) is True
        # env forces exact even on the same corpus
        monkeypatch.setenv(env, "1e18")
        assert route_by_mass("q_test", 600_000.0, 1000, 500.0, env) is False
        # env forces capped on a clean corpus
        monkeypatch.setenv(env, "0")
        assert route_by_mass("q_test", 1.0, 1000, 500.0, env) is True
    decisions = [r.message for r in caplog.records if "router" in r.message]
    assert len(decisions) == 3
    assert "CAPPED" in decisions[0] and "default" in decisions[0]
    assert "EXACT" in decisions[1] and "override" in decisions[1]


def test_x45_routes_capped_on_adversarial_corpus(spark, tmp_path, monkeypatch):
    """A duplicate-heavy corpus (mass/doc far above PAIR_MASS_PER_DOC)
    must take the capped tier instead of the quadratic exact join."""
    import neo4j_blue_green_arrow_etl_spark.operators.dedup as dd
    from neo4j_blue_green_arrow_etl_spark.operators import REGISTRY

    # 120 exact-duplicate 30-word docs: 28 shared shingles, each with
    # c=120 -> mass/doc = 28*120*119/2/120 = 1666 >> 500
    text = " ".join(f"w{j}" for j in range(30))
    rows = [(i, text, len(text)) for i in range(120)]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, n_chars INT"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    calls = {"exact": 0, "capped": 0}
    real_exact, real_capped = dd.ngram_match_pairs, dd.fuzzy_block_pairs_capped

    def spy_exact(sh):
        calls["exact"] += 1
        return real_exact(sh)

    def spy_capped(d):
        calls["capped"] += 1
        return real_capped(d)

    # q_x45_curate imports both pair stages from dedup at call time
    monkeypatch.setattr(dd, "ngram_match_pairs", spy_exact)
    monkeypatch.setattr(dd, "fuzzy_block_pairs_capped", spy_capped)
    df = REGISTRY["q_x45_curate"].spark(spark, str(tmp_path))
    n = df.count()
    assert calls == {"exact": 0, "capped": 1}
    # one canonical doc survives the dedup stage; the budget stage then
    # keeps a 0.6-of-total prefix of it (>=0 rows, deterministic)
    assert n >= 0


def test_x31_routes_exact_on_proportional_corpus(spark, monkeypatch):
    """q_x31's r10 duplicate-mass router: the oracle regime must run
    the uncapped fuzzy tier (byte-identical output — the sweep gates
    the values; this pins the ROUTE)."""
    import neo4j_blue_green_arrow_etl_spark.operators.dedup as dd
    from neo4j_blue_green_arrow_etl_spark.operators import REGISTRY

    from conftest import SF_SMOKE

    calls = {"exact": 0, "capped": 0}
    real_exact, real_capped = dd.fuzzy_block_pairs, dd.fuzzy_block_pairs_capped

    def spy_exact(d):
        calls["exact"] += 1
        return real_exact(d)

    def spy_capped(d):
        calls["capped"] += 1
        return real_capped(d)

    # q_x31_erclusters imports both pair stages from dedup at call time
    monkeypatch.setattr(dd, "fuzzy_block_pairs", spy_exact)
    monkeypatch.setattr(dd, "fuzzy_block_pairs_capped", spy_capped)
    df = REGISTRY["q_x31_erclusters"].spark(spark, SF_SMOKE)
    n = df.count()
    assert calls == {"exact": 1, "capped": 0}
    assert n > 0


def test_x31_routes_capped_on_adversarial_corpus(spark, tmp_path, monkeypatch):
    """A corpus whose first-token blocks are super-linear (every doc in
    one block) must take the capped tier."""
    import neo4j_blue_green_arrow_etl_spark.operators.dedup as dd
    from neo4j_blue_green_arrow_etl_spark.operators import REGISTRY

    # 600 docs sharing tok1 -> block mass/doc = 599/2 = 299.5 >> 160
    rows = [
        (i, "common " + " ".join(f"u{i}w{j}" for j in range(10)), 80)
        for i in range(600)
    ]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, n_chars INT"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    calls = {"exact": 0, "capped": 0}
    real_exact, real_capped = dd.fuzzy_block_pairs, dd.fuzzy_block_pairs_capped

    def spy_exact(d):
        calls["exact"] += 1
        return real_exact(d)

    def spy_capped(d):
        calls["capped"] += 1
        return real_capped(d)

    # q_x31_erclusters imports both pair stages from dedup at call time
    monkeypatch.setattr(dd, "fuzzy_block_pairs", spy_exact)
    monkeypatch.setattr(dd, "fuzzy_block_pairs_capped", spy_capped)
    df = REGISTRY["q_x31_erclusters"].spark(spark, str(tmp_path))
    df.count()
    assert calls == {"exact": 0, "capped": 1}
