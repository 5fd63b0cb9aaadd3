"""Integration tests: FlightGraphSink against a real gRPC Flight server.

The server (sinks/flight_server.InMemoryGraphFlightServer) implements
the reference's GDS Arrow protocol — CREATE_DATABASE -> node puts ->
NODE_LOAD_DONE -> relationship puts -> RELATIONSHIP_LOAD_DONE, plus
ABORT — so these tests exercise the full wire path the reference client
drives (neo4j_arrow_client.py:123-296): DoAction lifecycle framing and
per-partition executor-side do_put streaming.
"""

from __future__ import annotations

import collections
import json
import threading
from pathlib import Path

import pytest

from neo4j_blue_green_arrow_etl_spark.errors import InvalidArgumentError
from neo4j_blue_green_arrow_etl_spark.sinks.flight_server import (
    InMemoryGraphFlightServer,
)
from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import (
    FlightGraphSink,
    SinkState,
)

from conftest import SF_SMOKE


@pytest.fixture()
def server():
    s = InMemoryGraphFlightServer()
    yield s
    s.shutdown()


def _sink(server, name="acme-100"):
    return FlightGraphSink(name, host="127.0.0.1", port=server.port)


def test_full_load_over_grpc(spark, server):
    nodes = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").repartition(4)
    edges = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").repartition(4)
    n_nodes, n_edges = nodes.count(), edges.count()

    sink = _sink(server)
    sink.create_database()
    res_n = sink.write_nodes(nodes)
    assert res_n.rows == n_nodes
    assert res_n.bytes > 0
    sink.nodes_done()
    res_e = sink.write_edges(edges)
    assert res_e.rows == n_edges
    sink.edges_done()
    assert sink.state is SinkState.DONE

    g = server.graphs["acme-100"]
    assert g["state"] == "done"
    assert g["nodes"] == n_nodes
    assert g["relationships"] == n_edges
    # one do_put stream per non-empty partition, not per batch
    assert 2 <= g["put_calls"] <= 8
    assert "c_custkey" in [f.name for f in g["schemas"]["node"]]


def test_empty_partitions_open_no_stream(spark, server):
    nodes = (
        spark.read.parquet(f"{SF_SMOKE}/region.parquet").repartition(16)
    )  # 5 rows / 16 partitions -> >=11 empty
    sink = _sink(server)
    sink.create_database()
    res = sink.write_nodes(nodes)
    assert res.rows == 5
    assert server.graphs["acme-100"]["put_calls"] <= 5


def test_server_rejects_out_of_phase_puts(spark, server):
    """The wire protocol itself (not just the client state machine)
    refuses edge batches during the node phase."""
    edges = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").limit(10)
    sink = _sink(server)
    sink.create_database()
    # bypass the client-side state machine to prove the SERVER enforces
    # phase ordering too
    with pytest.raises(Exception, match="state"):
        sink._put(edges, "relationship")


def test_client_state_machine_orders_phases(spark, server):
    nodes = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    sink = _sink(server)
    with pytest.raises(InvalidArgumentError):
        sink.write_nodes(nodes)  # before create_database
    sink.create_database()
    with pytest.raises(InvalidArgumentError):
        sink.create_database()  # a second create
    with pytest.raises(InvalidArgumentError):
        sink.write_edges(nodes)  # before nodes_done
    sink.write_nodes(nodes)
    sink.nodes_done()
    with pytest.raises(InvalidArgumentError):
        sink.write_nodes(nodes)  # the node phase is closed
    assert server.graphs["acme-100"]["nodes"] == 5


def test_write_calls_in_one_phase_add_up(spark, server):
    """The protocol allows several write calls per phase, as the
    reference streams batch after batch: the server adds them up, and
    the barrier's client-side count does too, so it passes."""
    nodes = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    n = nodes.count()
    sink = _sink(server)
    sink.create_database()
    assert sink.write_nodes(nodes).rows == n
    assert sink.write_nodes(nodes).rows == n
    assert sink.nodes_done()["node_count"] == 2 * n
    assert server.graphs["acme-100"]["nodes"] == 2 * n


def test_abort_mid_load_discards_graph(spark, server):
    nodes = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    sink = _sink(server)
    sink.create_database()
    sink.write_nodes(nodes)
    sink.abort()
    assert sink.state is SinkState.ABORTED
    assert "acme-100" not in server.graphs


def test_abort_unstarted_is_noop(server):
    sink = _sink(server)
    sink.abort()  # READY -> no server call, no error
    assert sink.state is SinkState.ABORTED
    # aborting again is also a no-op (idempotent)
    sink.abort()


def test_recreate_replaces_graph(spark, server):
    """force=True semantics: CREATE_DATABASE over an existing name
    resets it (reference create_database config)."""
    nodes = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    a = _sink(server)
    a.create_database()
    a.write_nodes(nodes)
    b = _sink(server)
    b.create_database()
    assert server.graphs["acme-100"]["nodes"] == 0


def test_orchestrator_loads_through_flight_sink(spark, server, sf_dir, tmp_path):
    """End-to-end blue/green over REAL gRPC: the orchestrator's
    pluggable load_fn drives the Flight sink's two-phase protocol per
    snapshot (create -> nodes -> barrier -> edges -> done) while the
    catalog records the deployment for alias cutover — the full
    reference composition (orchestrator.py load_snapshot ->
    neo4j_arrow_client.py) in one test."""
    from neo4j_blue_green_arrow_etl_spark import fixtures as FX
    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import flight_load_fn
    from neo4j_blue_green_arrow_etl_spark.streaming import Orchestrator

    base = str(tmp_path / "data")
    FX.materialize_snapshot(spark, sf_dir, base, "acme", 1767741427)
    FX.materialize_snapshot(spark, sf_dir, base, "acme", 1767742000)

    catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
    orch = Orchestrator(
        spark,
        base,
        catalog=catalog,
        load_fn=flight_load_fn("127.0.0.1", server.port),
        status_path=tmp_path / "status.json",
    )
    orch.run_cycle()
    orch.run_cycle()

    assert orch.stats.completed == 2
    assert catalog.alias_target("acme") == "acme-1767742000"
    # both generations landed on the Flight server, fully two-phased
    for db in ("acme-1767741427", "acme-1767742000"):
        g = server.graphs[db]
        assert g["state"] == "done"
        assert g["nodes"] > 0 and g["relationships"] > 0


def test_load_path_goes_through_the_benchmark_hooks(
    spark, server, sf_dir, tmp_path, monkeypatch
):
    """The benchmark's traced mode times each layer of a load by wrapping
    these names: ``sources.snapshot.read_snapshot`` (which
    ``flight_load_fn`` binds when it is called), the five public
    ``GraphSink`` phase methods and three ``DeploymentCatalog`` methods.
    It reads ``state``, ``nodes``, ``relationships`` and ``put_calls``
    off the server's graph. One cycle must pass through all of them, in
    load order."""
    from neo4j_blue_green_arrow_etl_spark import fixtures as FX
    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import (
        GraphSink,
        flight_load_fn,
    )
    from neo4j_blue_green_arrow_etl_spark.sources import snapshot
    from neo4j_blue_green_arrow_etl_spark.streaming import Orchestrator

    base = str(tmp_path / "data")
    FX.materialize_snapshot(spark, sf_dir, base, "acme", 100)
    calls = []

    def spy(owner, name):
        real = getattr(owner, name)

        def wrapper(*args, **kwargs):
            calls.append(name)
            return real(*args, **kwargs)

        monkeypatch.setattr(owner, name, wrapper)

    sink_phases = ("create_database", "write_nodes", "nodes_done", "write_edges", "edges_done")
    catalog_steps = ("register_deployment", "set_alias", "cleanup_old_deployments")
    spy(snapshot, "read_snapshot")
    for name in sink_phases:
        spy(GraphSink, name)
    for name in catalog_steps:
        spy(DeploymentCatalog, name)

    orch = Orchestrator(
        spark,
        base,
        catalog=DeploymentCatalog(spark, tmp_path / "catalog.json"),
        load_fn=flight_load_fn("127.0.0.1", server.port),
    )
    assert orch.run_cycle() == 1
    assert calls == ["read_snapshot", *sink_phases, *catalog_steps]
    g = server.graphs["acme-100"]
    assert {"state", "nodes", "relationships", "put_calls"} <= g.keys()
    assert g["state"] == "done"


def _spy_map_in_arrow(spark, monkeypatch) -> list[int]:
    """Count ``mapInArrow`` calls, the executor send path: each starts
    Python workers."""
    frame_cls = type(spark.range(1))
    real = frame_cls.mapInArrow
    calls = []

    def spy(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "mapInArrow", spy)
    return calls


def _persistent_rdds(spark) -> set[int]:
    """Ids of the session's persisted RDDs, pins included. Spark holds
    them weakly, so earlier tests' frames may drop out at any time:
    compare ids, not sizes."""
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def _filled_rdds(spark) -> set[int]:
    """Ids of the persisted RDDs that hold at least one computed block:
    a pin is filled once the first job over its side has run."""
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _snapshot(spark, sf_dir, base, ts):
    from neo4j_blue_green_arrow_etl_spark import fixtures as FX
    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import SnapshotRef

    FX.materialize_snapshot(spark, sf_dir, base, "acme", ts)
    return SnapshotRef("acme", ts, f"{base}/acme/{ts}")


def test_small_snapshot_loads_in_no_spark_job_without_a_parquet_scan(
    spark, server, sf_dir, tmp_path, monkeypatch
):
    """A load's fixed cost is its Spark jobs and Python workers. Reading
    a small snapshot runs no job and no Spark Parquet scan: pyarrow
    reads the files on the driver, and each side is one partition of
    in-memory rows. Each Flight phase streams the Arrow table its side
    was read into from the driver, so no job runs, ``mapInArrow`` is
    never called and no Python worker starts. Loading a parquet snapshot
    end to end, registration included, runs no Spark job; the sides'
    pins are filled by the deployment's first read."""
    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import flight_load_fn

    from conftest import spark_jobs_run_by, spy_parquet_reads

    ref = _snapshot(spark, sf_dir, str(tmp_path / "data"), 100)
    catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
    load = flight_load_fn("127.0.0.1", server.port)
    mapped = _spy_map_in_arrow(spark, monkeypatch)
    reads = spy_parquet_reads(monkeypatch)
    before = _persistent_rdds(spark)
    jobs = spark_jobs_run_by(spark, lambda: load(spark, ref, catalog))
    assert len(jobs) == 0
    assert mapped == []
    assert reads == []
    g = server.graphs["acme-100"]
    assert g["state"] == "done"
    assert catalog.database_exists("acme-100")
    pins = _persistent_rdds(spark) - before
    assert len(pins) == 2 and not pins & _filled_rdds(spark)
    catalog.set_alias("acme", 100)
    served = tuple(catalog.count_via_alias("acme", k) for k in ("nodes", "edges"))
    assert served == (g["nodes"], g["relationships"])
    assert pins <= _filled_rdds(spark)


def test_side_above_one_split_puts_through_spark_jobs_that_fill_its_pins(
    spark, server, sf_dir, tmp_path, monkeypatch
):
    """A side above one ``spark.sql.files.openCostInBytes`` split keeps
    the Spark Parquet scan and has no Arrow table: each Flight phase is
    a ``mapInArrow`` job over its partitions, and that job fills the
    side's pin, before any read of the deployment."""
    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import flight_load_fn

    from conftest import session_conf, spark_jobs_run_by, spy_parquet_reads

    ref = _snapshot(spark, sf_dir, str(tmp_path / "data"), 100)
    catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
    load = flight_load_fn("127.0.0.1", server.port)
    with session_conf(spark, **_lowered_open_cost(ref)):
        mapped = _spy_map_in_arrow(spark, monkeypatch)
        reads = spy_parquet_reads(monkeypatch)
        before = _persistent_rdds(spark)
        jobs = spark_jobs_run_by(spark, lambda: load(spark, ref, catalog))
    assert len(jobs) == 2
    assert mapped == [1, 1]
    assert reads
    g = server.graphs["acme-100"]
    assert g["state"] == "done" and g["put_calls"] > 2
    pins = _persistent_rdds(spark) - before
    assert len(pins) == 2 and pins <= _filled_rdds(spark)


def _lowered_open_cost(ref) -> dict[str, str]:
    """A ``spark.sql.files.openCostInBytes`` below half of each side of
    ``ref``, so ``read_snapshot`` reads both sides with Spark scans."""
    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import _list_side

    smallest = min(
        sum(n for _, _, n in _list_side(Path(ref.path, side)))
        for side in ("nodes", "relationships")
    )
    return {"spark.sql.files.openCostInBytes": str(smallest // 2)}


class _RecordingServer(InMemoryGraphFlightServer):
    """The test server, also keeping every batch each graph's puts
    carry, by graph name and entity type."""

    def __init__(self):
        super().__init__()
        self.batches = collections.defaultdict(list)

    def do_put(self, context, descriptor, reader, writer):
        cmd = json.loads(descriptor.command.decode())
        kept = self.batches[cmd["name"], cmd["entity_type"]]

        class Tap:
            schema = reader.schema

            def __iter__(self):
                for chunk in reader:
                    kept.append(chunk.data)
                    yield chunk

        return super().do_put(context, descriptor, Tap(), writer)


def test_driver_table_and_executor_routes_send_the_same_schema_and_rows(
    spark, sf_dir, tmp_path, monkeypatch
):
    """One small snapshot loaded twice: first each side streams the
    Arrow table ``read_snapshot`` read it into, from the driver; then,
    with ``openCostInBytes`` lowered, each side is a Spark scan sent by
    ``mapInArrow`` on executors. The server receives equal Arrow schemas,
    metadata included, and equal rows on both routes."""
    import pyarrow as pa

    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import flight_load_fn
    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import SnapshotRef

    from conftest import session_conf, spark_jobs_run_by

    server = _RecordingServer()
    try:
        ref = _snapshot(spark, sf_dir, str(tmp_path / "data"), 100)
        catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
        load = flight_load_fn("127.0.0.1", server.port)
        mapped = _spy_map_in_arrow(spark, monkeypatch)
        assert spark_jobs_run_by(spark, lambda: load(spark, ref, catalog)) == []
        assert mapped == []
        with session_conf(spark, **_lowered_open_cost(ref)):
            load(spark, SnapshotRef("acme", 200, ref.path), catalog)
        assert mapped == [1, 1]
        for entity in ("node", "relationship"):
            driver, executor = (
                pa.Table.from_batches(server.batches[db, entity])
                for db in ("acme-100", "acme-200")
            )
            assert driver.schema.equals(executor.schema, check_metadata=True)
            assert driver.num_rows > 0
            assert sorted(map(repr, driver.to_pylist())) == sorted(
                map(repr, executor.to_pylist())
            )
    finally:
        server.shutdown()


def test_side_the_arrow_read_refuses_loads_through_the_executor_route(
    spark, server, tmp_path, monkeypatch
):
    """A small node side the driver read cannot give exactly as Spark
    does (its part sits below a ``key=value`` dir, which Spark reads as
    a column) is a Spark scan with no Arrow table: its phase is one
    ``mapInArrow`` job, which fills the side's pin, while the edge side
    still streams its Arrow table. The server gets every row generated,
    and reads through the alias return the counts it acknowledged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import flight_load_fn
    from neo4j_blue_green_arrow_etl_spark.sources import snapshot

    n_nodes, n_edges = 300, 500
    root = tmp_path / "data" / "acme" / "100"
    tables = {
        "nodes/Entity/region=emea": pa.table(
            {
                "id": [f"E{i}" for i in range(n_nodes)],
                "labels": ["Entity,Person"] * n_nodes,
                "score": [i / 2 for i in range(n_nodes)],
            }
        ),
        "relationships/KNOWS": pa.table(
            {
                "src": [f"E{i % n_nodes}" for i in range(n_edges)],
                "dst": [f"E{(i + 1) % n_nodes}" for i in range(n_edges)],
                "type": ["KNOWS"] * n_edges,
            }
        ),
    }
    for name, table in tables.items():
        (root / name).mkdir(parents=True)
        pq.write_table(table, root / name / "part-00000.parquet")

    sides = []
    real_read = snapshot.read_snapshot

    def read_snapshot(spark, ref):
        sides.extend(real_read(spark, ref))
        return tuple(sides)

    monkeypatch.setattr(snapshot, "read_snapshot", read_snapshot)
    catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
    load = flight_load_fn("127.0.0.1", server.port)
    mapped = _spy_map_in_arrow(spark, monkeypatch)
    load(spark, snapshot.SnapshotRef("acme", 100, str(root)), catalog)
    g = server.graphs["acme-100"]
    assert g["state"] == "done"
    assert (g["nodes"], g["relationships"]) == (n_nodes, n_edges)
    assert "region" in g["schemas"]["node"].names
    assert mapped == [1]
    nodes_pin, edges_pin = (
        side._jdf.queryExecution().logical().rdd().id() for side in sides
    )
    filled = _filled_rdds(spark)
    assert nodes_pin in filled and edges_pin not in filled
    catalog.set_alias("acme", 100)
    served = tuple(catalog.count_via_alias("acme", k) for k in ("nodes", "edges"))
    assert served == (g["nodes"], g["relationships"])


@pytest.mark.parametrize("error", [KeyboardInterrupt, RuntimeError])
def test_failed_load_aborts_and_unpins(
    spark, server, sf_dir, tmp_path, monkeypatch, error
):
    """A load that fails in the edge phase, or that Ctrl-C interrupts
    (pyspark cancels the running jobs and raises ``KeyboardInterrupt``),
    aborts the server graph instead of leaving it feeding, frees both
    sides' pins and registers nothing; the error propagates."""
    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import (
        GraphSink,
        flight_load_fn,
    )

    ref = _snapshot(spark, sf_dir, str(tmp_path / "data"), 100)
    catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
    load = flight_load_fn("127.0.0.1", server.port)

    def write_edges(self, edges):
        raise error

    monkeypatch.setattr(GraphSink, "write_edges", write_edges)
    before = _persistent_rdds(spark)
    with pytest.raises(error):
        load(spark, ref, catalog)
    assert "acme-100" not in server.graphs
    assert _persistent_rdds(spark) <= before
    assert not catalog.database_exists("acme-100")


def test_deployment_serves_acknowledged_rows_after_landing_files_change(
    spark, server, sf_dir, tmp_path
):
    """A small snapshot's rows are fixed when ``read_snapshot`` reads
    them: the server gets the Arrow table they were read into, and the
    side's in-memory rows, which its first read pins, hold the same
    rows. So reads through the alias keep returning the counts the
    server acknowledged after a landing file is rewritten with other
    rows, and after the snapshot dir is deleted, whether that happens
    after the deployment's first read or before it."""
    import shutil

    import pyarrow.parquet as pq

    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import flight_load_fn

    base = str(tmp_path / "data")
    catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
    load = flight_load_fn("127.0.0.1", server.port)

    def rewrite_one_part(ref):
        part = sorted(Path(ref.path, "nodes").glob("*/part-*"))[0]
        pq.write_table(pq.read_table(part).slice(0, 1), part)
        part.with_name(f".{part.name}.crc").unlink(missing_ok=True)

    def served():
        return tuple(catalog.count_via_alias("acme", k) for k in ("nodes", "edges"))

    ref = _snapshot(spark, sf_dir, base, 100)
    load(spark, ref, catalog)
    catalog.set_alias("acme", 100)
    g = server.graphs["acme-100"]
    acked = (g["nodes"], g["relationships"])
    assert served() == acked
    rewrite_one_part(ref)
    assert served() == acked
    shutil.rmtree(ref.path)
    assert served() == acked

    # the landing files change before the deployment is ever read
    ref = _snapshot(spark, sf_dir, base, 200)
    load(spark, ref, catalog)
    rewrite_one_part(ref)
    shutil.rmtree(ref.path)
    catalog.set_alias("acme", 200)
    g = server.graphs["acme-200"]
    assert served() == (g["nodes"], g["relationships"])


def test_no_arrow_table_outlives_its_load(spark, server, sf_dir, tmp_path, monkeypatch):
    """A small side's Arrow table lives only as long as its load: after
    a Flight load (the sink streamed it), a failed Flight load (the
    edges were never streamed), ``load_snapshot`` and a catalog restore
    (no sink at all), no table ``read_snapshot`` built is reachable, so
    a deployment holds its rows once, in the JVM."""
    import gc
    import weakref

    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import (
        GraphSink,
        flight_load_fn,
    )
    from neo4j_blue_green_arrow_etl_spark.sources import snapshot
    from neo4j_blue_green_arrow_etl_spark.streaming import orchestrator

    built = []
    real = snapshot.read_snapshot

    def read_snapshot(spark, ref):
        sides = real(spark, ref)
        built.extend(weakref.ref(snapshot._TABLES[side]) for side in sides)
        return sides

    monkeypatch.setattr(snapshot, "read_snapshot", read_snapshot)
    monkeypatch.setattr(orchestrator, "read_snapshot", read_snapshot)

    def assert_none_left(tables: int) -> None:
        gc.collect()
        assert len(built) == tables
        assert [t() for t in built] == [None] * tables
        built.clear()

    base = str(tmp_path / "data")
    catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
    load = flight_load_fn("127.0.0.1", server.port)
    load(spark, _snapshot(spark, sf_dir, base, 100), catalog)
    assert_none_left(2)

    def write_edges(self, edges):
        raise RuntimeError("edge phase failed")

    with monkeypatch.context() as m:
        m.setattr(GraphSink, "write_edges", write_edges)
        with pytest.raises(RuntimeError):
            load(spark, _snapshot(spark, sf_dir, base, 200), catalog)
    assert_none_left(2)

    orchestrator.load_snapshot(spark, _snapshot(spark, sf_dir, base, 300), catalog)
    assert_none_left(2)

    restored = DeploymentCatalog(spark, tmp_path / "catalog.json")
    assert restored.list_databases() == ["acme-100", "acme-300"]
    assert_none_left(4)


def test_retention_and_reregister_unpin_deployments(spark, server, sf_dir, tmp_path):
    """The catalog frees a deployment's pins when it lets go of it:
    retention drops it, or a register under the same name replaces it.
    The replacing deployment is served from its own pins."""
    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import flight_load_fn
    from neo4j_blue_green_arrow_etl_spark.streaming.orchestrator import (
        load_snapshot,
    )

    base = str(tmp_path / "data")
    catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
    load = flight_load_fn("127.0.0.1", server.port)
    before = _persistent_rdds(spark)
    refs = [_snapshot(spark, sf_dir, base, ts) for ts in (100, 200, 300)]
    for ref in refs:
        load(spark, ref, catalog)
    pins = _persistent_rdds(spark) - before
    assert len(pins) == 6
    catalog.set_alias("acme", 300)
    assert catalog.cleanup_old_deployments("acme", keep_count=2) == ["acme-100"]
    assert len(_persistent_rdds(spark) & pins) == 4

    load_snapshot(spark, refs[-1], catalog)
    assert len(_persistent_rdds(spark) & pins) == 2
    assert len(_persistent_rdds(spark) - before) == 4
    assert catalog.count_via_alias("acme") == server.graphs["acme-300"]["nodes"]

    catalog.drop_alias("acme")
    for name in catalog.list_databases():
        catalog.drop_database(name)
    assert _persistent_rdds(spark) <= before


def test_create_database_retries_transient_failures(spark, server, monkeypatch):
    """Reference parity (neo4j_arrow_client.py:208-225): CREATE_DATABASE
    retries up to 10x with a 3 s delay — a just-dropped same-name
    database can linger during blue/green churn. Injected: the first
    two action calls fail, the third succeeds; no real sleeping."""
    sink = _sink(server, "retry-1")
    sleeps = []
    sink._create_sleep = sleeps.append
    real_action = sink._action
    calls = {"n": 0}

    def flaky_action(action, body):
        calls["n"] += 1
        if action == "CREATE_DATABASE" and calls["n"] <= 2:
            raise RuntimeError("transient: database still dropping")
        return real_action(action, body)

    monkeypatch.setattr(sink, "_action", flaky_action)
    sink.create_database()
    assert calls["n"] == 3
    assert sleeps == [3.0, 3.0]
    assert server.graphs["retry-1"]["state"] == "feeding_nodes"


def test_full_load_against_out_of_process_server(spark, tmp_path):
    """VERDICT r3 task 5: the in-process server shares memory with the
    client, which can mask pickling/config-serialization defects in the
    executor-side do_put path (the reference client must survive being
    pickled into tasks, neo4j_arrow_client.py:58-73). Spawn the server
    as a REAL subprocess and drive the full lifecycle across the
    process boundary; counts are verified via the lifecycle ACK
    payloads — the only channel that exists when there is no shared
    graphs dict to inspect."""
    import subprocess
    import sys

    script = (
        "from neo4j_blue_green_arrow_etl_spark.sinks.flight_server import "
        "InMemoryGraphFlightServer\n"
        "s = InMemoryGraphFlightServer()\n"
        "print(s.port, flush=True)\n"
        "s.serve()\n"
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", script],
        stdout=subprocess.PIPE,
        cwd=str(Path(__file__).resolve().parent.parent),
        text=True,
    )
    try:
        port = int(proc.stdout.readline().strip())
        nodes = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").repartition(4)
        edges = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").repartition(4)
        n_nodes, n_edges = nodes.count(), edges.count()

        sink = FlightGraphSink("acme-200", host="127.0.0.1", port=port)
        sink.create_database()
        assert sink.write_nodes(nodes).rows == n_nodes
        ack_n = sink.nodes_done()
        assert ack_n["node_count"] == n_nodes
        assert sink.write_edges(edges).rows == n_edges
        ack_e = sink.edges_done()
        assert ack_e["relationship_count"] == n_edges
        assert sink.state is SinkState.DONE
    finally:
        proc.kill()
        proc.wait()


class _PairedPutServer(InMemoryGraphFlightServer):
    """Holds every do_put stream, once open, until a second stream is
    open too: concurrent puts pair up and pass, while a serial data path
    leaves the first stream waiting until the barrier times out."""

    def __init__(self):
        super().__init__()
        self.pairs = threading.Barrier(2, timeout=60)

    def do_put(self, context, descriptor, reader, writer):  # noqa: ANN001
        return super().do_put(context, descriptor, _Paired(reader, self.pairs), writer)


class _Paired:
    """A do_put reader that waits on a barrier before its first chunk,
    i.e. after the server counted the stream as open."""

    def __init__(self, reader, barrier):
        self.reader, self.barrier = reader, barrier

    @property
    def schema(self):
        return self.reader.schema

    def __iter__(self):
        self.barrier.wait()
        yield from self.reader


def test_multi_partition_puts_stream_concurrently(spark):
    """VERDICT r4 task 4: the executor data path must stream partitions
    in PARALLEL do_put calls (1000-executor shape), not serially. A
    16-partition put must overlap on the server — the server's
    high-water gauge proves the wire-level concurrency. Each stream
    waits for a second one to open, so the overlap does not depend on
    how fast one stream ends; a serial path fails on the barrier."""
    server = _PairedPutServer()
    try:
        nodes = (
            spark.range(400_000)
            .selectExpr("id", "id * 2 AS attr", "repeat('x', 64) AS pad")
            .repartition(16)
        )
        sink = _sink(server)
        sink.create_database()
        res = sink.write_nodes(nodes)
        assert res.rows == 400_000
        g = server.graphs["acme-100"]
        assert g["put_calls"] == 16
        assert server.max_concurrent_puts >= 2
        assert not server.pairs.broken
    finally:
        server.shutdown()


def test_killed_writer_mid_stream_server_survives_and_abort_cleans(server):
    """VERDICT r4 task 4: SIGKILL a writer process holding an open
    do_put stream. The server must drain the dead stream (no leaked
    handler thread), keep serving lifecycle actions, and ABORT must
    leave the graph absent."""
    import json
    import subprocess
    import sys
    import time

    import pyarrow.flight as flight

    script = f"""
import pyarrow as pa, pyarrow.flight as flight, json, time
c = flight.FlightClient(flight.Location.for_grpc_tcp("127.0.0.1", {server.port}))
list(c.do_action(flight.Action("CREATE_DATABASE", json.dumps({{"name": "victim"}}).encode())))
desc = flight.FlightDescriptor.for_command(
    json.dumps({{"name": "victim", "entity_type": "node"}}).encode())
tbl = pa.table({{"id": pa.array(range(50_000), pa.int64())}})
writer, _ = c.do_put(desc, tbl.schema)
writer.write_table(tbl)
print("streamed", flush=True)
time.sleep(30)  # hold the stream open until killed
"""
    proc = subprocess.Popen(
        [sys.executable, "-c", script], stdout=subprocess.PIPE, text=True
    )
    try:
        assert proc.stdout.readline().strip() == "streamed"
        assert server.graphs["victim"]["state"] == "feeding_nodes"
    finally:
        proc.kill()
        proc.wait()
    # the dead stream must drain: handler thread exits, gauge returns to 0
    deadline = time.time() + 10
    while server._active_puts and time.time() < deadline:
        time.sleep(0.1)
    assert server._active_puts == 0
    # server still serves; abort leaves the graph absent
    c2 = flight.FlightClient(
        flight.Location.for_grpc_tcp("127.0.0.1", server.port)
    )
    list(
        c2.do_action(
            flight.Action("ABORT", json.dumps({"name": "victim"}).encode())
        )
    )
    c2.close()
    assert "victim" not in server.graphs


def test_barrier_detects_half_committed_stream(spark, server):
    """A writer killed mid-stream arrives at the server as a clean TCP
    half-close, so its partial rows are committed server-side — and the
    Spark task retry re-streams the whole partition. That corruption is
    only observable as a server-vs-client count mismatch at the phase
    barrier: nodes_done()/edges_done() must raise SinkIntegrityError
    rather than finalize a wrong graph."""
    from neo4j_blue_green_arrow_etl_spark.errors import SinkIntegrityError

    nodes = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    edges = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    sink = _sink(server)
    sink.create_database()
    sink.write_nodes(nodes)
    # simulate the half-committed duplicate rows a killed+retried
    # writer leaves behind
    server.graphs["acme-100"]["nodes"] += 7
    with pytest.raises(SinkIntegrityError, match="abort the load"):
        sink.nodes_done()
    sink.abort()
    assert "acme-100" not in server.graphs

    # clean reload passes both barriers
    sink2 = FlightGraphSink("acme-100", host="127.0.0.1", port=server.port)
    sink2.create_database()
    sink2.write_nodes(nodes)
    assert sink2.nodes_done()["node_count"] == nodes.count()
    sink2.write_edges(edges)
    server.graphs["acme-100"]["relationships"] -= 3
    with pytest.raises(SinkIntegrityError, match="relationship"):
        sink2.edges_done()
