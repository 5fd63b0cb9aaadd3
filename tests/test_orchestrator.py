from __future__ import annotations

import json
from pathlib import Path
from types import SimpleNamespace

import pytest

from neo4j_blue_green_arrow_etl_spark import fixtures as FX
from neo4j_blue_green_arrow_etl_spark.config import ConfigError
from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
from neo4j_blue_green_arrow_etl_spark.streaming import Orchestrator, orchestrator


@pytest.fixture()
def data_base(spark, sf_dir, tmp_path):
    base = str(tmp_path / "data")
    FX.materialize_snapshot(spark, sf_dir, base, "customer1", 1767741427)
    return base


def make_orch(spark, base, tmp_path, **cfg):
    catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
    return Orchestrator(
        spark,
        base,
        catalog=catalog,
        config={"orchestrator": cfg} if cfg else None,
        status_path=tmp_path / "status.json",
    )


def test_mid_write_snapshot_waits_until_published(spark, data_base, tmp_path):
    """A snapshot whose node files still sit under ``_temporary/``, where
    an in-flight Spark write keeps them, is not queued, so it spends no
    retries on a read that would fail. Once the files are renamed into
    place, the next cycle loads it and moves the alias."""
    entity = Path(data_base) / "customer1" / "1767741427" / "nodes" / "Entity"
    staged = entity / "_temporary" / "0"
    staged.mkdir(parents=True)
    parts = sorted(entity.glob("part-*"))
    for part in parts:
        part.rename(staged / part.name)

    orch = make_orch(spark, data_base, tmp_path)
    orch.run_cycle()
    assert orch.stats.discovered == 0 and not orch._queue and not orch.task_log

    for part in parts:
        (staged / part.name).rename(part)
    orch.run_cycle()
    assert orch.stats.completed == 1 and orch.stats.failed == 0
    assert orch.catalog.alias_target("customer1") == "customer1-1767741427"


def test_end_to_end_discover_load_switch(spark, sf_dir, data_base, tmp_path):
    orch = make_orch(spark, data_base, tmp_path)
    orch.run_cycle()
    assert orch.stats.completed == 1
    assert orch.catalog.alias_target("customer1") == "customer1-1767741427"
    n_customers = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    n_suppliers = spark.read.parquet(f"{sf_dir}/supplier.parquet").count()
    assert orch.catalog.count_via_alias("customer1") == n_customers + n_suppliers


def test_late_snapshot_loads_but_does_not_capture_alias(
    spark, sf_dir, data_base, tmp_path
):
    """ST3: a snapshot with an OLDER timestamp still loads, but the alias
    stays on the newest deployment (reference orchestrator.py:322-324)."""
    orch = make_orch(spark, data_base, tmp_path)
    orch.run_cycle()
    # late-arriving OLDER snapshot
    FX.materialize_snapshot(spark, sf_dir, data_base, "customer1", 1767741000)
    orch.run_cycle()
    assert orch.stats.completed == 2
    assert orch.catalog.database_exists("customer1-1767741000")  # loaded
    assert orch.catalog.alias_target("customer1") == "customer1-1767741427"  # not switched
    late = json.loads((tmp_path / "status.json").read_text())["tasks"][-1]
    assert late["db"] == "customer1-1767741000"
    assert late["state"] == "completed" and late["alias_switched"] is False

    # and a NEWER one does capture the alias
    FX.materialize_snapshot(spark, sf_dir, data_base, "customer1", 1767742000)
    orch.run_cycle()
    assert orch.catalog.alias_target("customer1") == "customer1-1767742000"


def test_dedup_same_snapshot_not_reprocessed(spark, data_base, tmp_path):
    orch = make_orch(spark, data_base, tmp_path)
    orch.run_cycle()
    orch.run_cycle()  # same tree scanned again
    assert orch.stats.completed == 1
    assert orch.stats.discovered == 1


def test_retry_with_backoff_then_success(spark, data_base, tmp_path):
    fake_now = [1000.0]
    attempts = []

    def flaky_load(spark_, ref, catalog):
        attempts.append(ref.database)
        if len(attempts) < 3:
            raise RuntimeError("transient sink failure")
        orchestrator.load_snapshot(spark_, ref, catalog)

    catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
    orch = Orchestrator(
        spark,
        data_base,
        catalog=catalog,
        config={"orchestrator": {"max_retries": 3, "retry_backoff_base": 2}},
        status_path=tmp_path / "status.json",
        load_fn=flaky_load,
        clock=lambda: fake_now[0],
    )
    orch.run_cycle()  # attempt 1 fails -> requeued at now+2
    assert orch.stats.retried == 1 and orch.stats.completed == 0
    orch.run_cycle()  # not due yet: backoff holds the task
    assert len(attempts) == 1
    fake_now[0] += 2.1
    orch.run_cycle()  # attempt 2 fails -> backoff 4
    assert len(attempts) == 2
    fake_now[0] += 4.1
    orch.run_cycle()  # attempt 3 succeeds
    assert orch.stats.completed == 1
    assert orch.catalog.database_exists("customer1-1767741427")


def test_retries_exhausted_marks_failed(spark, data_base, tmp_path):
    fake_now = [1000.0]

    def always_fail(spark_, ref, catalog):
        raise RuntimeError("permanent failure")

    orch = Orchestrator(
        spark,
        data_base,
        catalog=DeploymentCatalog(spark, tmp_path / "catalog.json"),
        config={"orchestrator": {"max_retries": 2, "retry_backoff_base": 2}},
        load_fn=always_fail,
        clock=lambda: fake_now[0],
    )
    for _ in range(5):
        orch.run_cycle()
        fake_now[0] += 10
    assert orch.stats.failed == 1
    assert orch.stats.completed == 0
    assert orch.catalog.alias_target("customer1") is None  # no cutover on failure
    tasks = orch.write_status()["tasks"]
    assert [(t["state"], t["attempt"]) for t in tasks] == [
        ("retrying", 1),
        ("retrying", 2),
        ("failed", 3),  # 1 initial + max_retries
    ]
    assert tasks[-1]["error"] == "permanent failure"
    assert tasks[-1]["alias_switched"] is False


def test_health_gate_defers_without_consuming_retries(spark, data_base, tmp_path):
    """A health-gate failure re-queues the task with backoff WITHOUT
    incrementing retry_count — sustained pressure must never permanently
    fail a snapshot (reference orchestrator.py:310-316 re-queues without
    counting). When the pressure clears, the task loads normally."""
    fake_now = [1000.0]
    orch = make_orch(spark, data_base, tmp_path, max_databases=0, max_retries=0)
    orch.clock = lambda: fake_now[0]
    for _ in range(5):  # way past max_retries=0
        orch.run_cycle()
        fake_now[0] += 10
    assert orch.stats.failed == 0
    assert orch.stats.completed == 0
    assert orch.stats.health_deferred == 5
    assert len(orch._queue) == 1
    assert orch._queue[0].retry_count == 0
    orch.cfg["max_databases"] = 50  # pressure clears
    fake_now[0] += 10
    orch.run_cycle()
    assert orch.stats.completed == 1


def test_health_check_runs_no_spark_job(spark, data_base, tmp_path):
    """The liveness check is one py4j call, not a query: admitting a
    load costs no Spark job."""
    from conftest import spark_jobs_run_by

    orch = make_orch(spark, data_base, tmp_path)
    result = []
    assert spark_jobs_run_by(spark, lambda: result.append(orch.check_health())) == []
    assert result == [(True, "ok")]


def test_cycle_goes_through_the_module_hooks(spark, data_base, tmp_path, monkeypatch):
    """The benchmark traces a cycle by wrapping these names: the module's
    ``discover_snapshots`` (called with the path and the seen set), and
    ``Orchestrator.check_health`` and ``process_task(self, task)``,
    where it reads ``task.snapshot``. It builds the orchestrator with a
    flat config."""
    calls = []
    discover = orchestrator.discover_snapshots
    check_health = Orchestrator.check_health
    process_task = Orchestrator.process_task

    def spy_discover(*args):
        calls.append("discover")
        return discover(*args)

    def spy_health(self):
        calls.append("health")
        return check_health(self)

    def spy_process(self, task):
        calls.append(task.snapshot.database)
        return process_task(self, task)

    monkeypatch.setattr(orchestrator, "discover_snapshots", spy_discover)
    monkeypatch.setattr(Orchestrator, "check_health", spy_health)
    monkeypatch.setattr(Orchestrator, "process_task", spy_process)
    orch = Orchestrator(
        spark,
        data_base,
        catalog=DeploymentCatalog(spark, tmp_path / "catalog.json"),
        config={"keep_count": 2},
    )
    assert orch.run_cycle() == 1
    assert calls == ["discover", "customer1-1767741427", "health"]
    assert orch.stats.discovered == 1 and orch.stats.completed == 1


@pytest.mark.parametrize(
    "liveness, reason",
    [
        ("raises", "session check failed: gateway is gone"),
        ("stopped", "spark context is stopped"),
    ],
)
def test_dead_session_defers_without_consuming_retries(
    spark, data_base, tmp_path, monkeypatch, liveness, reason
):
    """A session whose liveness call raises, or whose SparkContext
    reports stopped, fails the health gate: the task is deferred with
    backoff and keeps its retries, and loads once the session answers."""

    def is_stopped():
        if liveness == "raises":
            raise ConnectionError("gateway is gone")
        return True

    stub = SimpleNamespace(
        sparkContext=SimpleNamespace(
            _jsc=SimpleNamespace(sc=lambda: SimpleNamespace(isStopped=is_stopped))
        )
    )
    fake_now = [1000.0]
    orch = make_orch(spark, data_base, tmp_path, max_retries=0)
    orch.clock = lambda: fake_now[0]
    monkeypatch.setattr(orch.catalog, "spark", stub)
    assert orch.check_health() == (False, reason)
    orch.run_cycle()
    assert orch.stats.health_deferred == 1
    assert orch.stats.failed == 0 and orch.stats.retried == 0
    assert [t.retry_count for t in orch._queue] == [0]
    assert orch._queue[0].last_error == f"health gate: {reason}"
    monkeypatch.setattr(orch.catalog, "spark", spark)
    fake_now[0] += 10
    orch.run_cycle()
    assert orch.stats.completed == 1


def test_heap_gate_blocks_and_recovers(spark, data_base, tmp_path):
    """ST7/C8: the JVM-heap admission gate (reference orchestrator.py:
    111-152, queryJmx heap < 85%) with an injected metrics provider."""
    heap = [0.95]
    orch = Orchestrator(
        spark,
        data_base,
        catalog=DeploymentCatalog(spark, tmp_path / "catalog.json"),
        status_path=tmp_path / "status.json",
        heap_fraction_fn=lambda: heap[0],
    )
    ok, reason = orch.check_health()
    assert not ok and "heap 95%" in reason
    orch.run_cycle()
    assert orch.stats.completed == 0 and orch.stats.health_deferred == 1
    heap[0] = 0.30
    ok, _ = orch.check_health()
    assert ok


def test_default_heap_provider_reads_real_jvm(spark, data_base, tmp_path):
    orch = make_orch(spark, data_base, tmp_path)
    frac = orch._jvm_heap_fraction()
    assert 0.0 < frac < 1.0


def test_cleanup_retention_via_orchestrator(spark, sf_dir, data_base, tmp_path):
    orch = make_orch(spark, data_base, tmp_path, keep_count=2)
    for ts in (1767741500, 1767741600, 1767741700):
        FX.materialize_snapshot(spark, sf_dir, data_base, "customer1", ts)
    for _ in range(4):
        orch.run_cycle()
    assert orch.stats.completed == 4
    kept = orch.catalog.list_databases("customer1-")
    assert kept == ["customer1-1767741600", "customer1-1767741700"]
    assert orch.catalog.alias_target("customer1") == "customer1-1767741700"


def test_status_file_written(spark, data_base, tmp_path):
    orch = make_orch(spark, data_base, tmp_path)
    orch.run_cycle()
    status = json.loads((tmp_path / "status.json").read_text())
    assert status["completed"] == 1
    assert status["aliases"] == {"customer1": "customer1-1767741427"}
    assert status["queue_size"] == 0
    last = status["tasks"][-1]
    assert last["db"] == "customer1-1767741427" and last["attempt"] == 1
    assert last["state"] == "completed" and last["alias_switched"] is True
    assert last["cleaned_up"] == 0 and last["error"] is None


def test_failed_status_write_leaves_no_temp_file(spark, tmp_path, monkeypatch):
    """A status write that fails part-way removes its temp file and
    leaves the previous status.json as it was."""
    orch = make_orch(spark, str(tmp_path / "data"), tmp_path)
    orch.write_status()
    before = (tmp_path / "status.json").read_text()

    def broken_dump(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", broken_dump)
    with pytest.raises(OSError, match="disk full"):
        orch.write_status()
    assert list(tmp_path.glob(".status-*")) == []
    assert (tmp_path / "status.json").read_text() == before


@pytest.mark.parametrize(
    "key, value",
    [
        ("retry_backoff_base", 0),
        ("retry_backoff_base", 0.5),
        ("max_retries", -1),
        ("max_concurrent_loads", -1),
        ("scan_interval", "30 seconds"),
    ],
)
def test_invalid_config_is_rejected(spark, tmp_path, key, value):
    with pytest.raises(ConfigError, match=key):
        make_orch(spark, str(tmp_path / "data"), tmp_path, **{key: value})


def test_graceful_drain(spark, sf_dir, data_base, tmp_path):
    orch = make_orch(spark, data_base, tmp_path, max_concurrent_loads=1)
    FX.materialize_snapshot(spark, sf_dir, data_base, "customer2", 1767741427)
    orch.scan_once()
    assert len(orch._queue) == 2
    assert orch.stop(drain=True) is True
    assert orch.stats.completed == 2


def test_drain_waits_for_backoff_tasks_instead_of_dropping(
    spark, data_base, tmp_path
):
    """stop(drain=True) must process tasks whose retry backoff has not
    elapsed yet — sleeping until their not_before — rather than popping
    and silently discarding them (the reference shutdown waits for the
    queue to empty, orchestrator.py:595-655)."""
    fake_now = [1000.0]
    attempts = []

    def flaky_load(spark_, ref, catalog):
        attempts.append(fake_now[0])
        if len(attempts) < 2:
            raise RuntimeError("transient")
        orchestrator.load_snapshot(spark_, ref, catalog)

    orch = Orchestrator(
        spark,
        data_base,
        catalog=DeploymentCatalog(spark, tmp_path / "catalog.json"),
        config={"orchestrator": {"max_retries": 3, "retry_backoff_base": 2, "shutdown_timeout": 300}},
        load_fn=flaky_load,
        clock=lambda: fake_now[0],
    )
    orch.run_cycle()  # attempt 1 fails -> requeued with not_before in the future
    assert len(orch._queue) == 1
    assert orch._queue[0].not_before > fake_now[0]

    def advancing_sleep(s):
        fake_now[0] += s

    assert orch.stop(drain=True, sleep=advancing_sleep) is True
    assert orch.stats.completed == 1
    assert not orch._queue
    assert attempts[1] >= 1002.0  # waited for the backoff, then retried


def test_drain_returns_false_when_deadline_leaves_tasks(spark, data_base, tmp_path):
    """An incomplete drain must say so: tasks remaining at the deadline
    stay in the queue and stop() returns False."""
    fake_now = [1000.0]

    def always_fail(spark_, ref, catalog):
        raise RuntimeError("permanent")

    orch = Orchestrator(
        spark,
        data_base,
        catalog=DeploymentCatalog(spark, tmp_path / "catalog.json"),
        config={"orchestrator": {"max_retries": 100, "retry_backoff_base": 10, "shutdown_timeout": 15}},
        load_fn=always_fail,
        clock=lambda: fake_now[0],
    )
    orch.scan_once()

    def advancing_sleep(s):
        fake_now[0] += s

    assert orch.stop(drain=True, sleep=advancing_sleep) is False
    assert len(orch._queue) == 1  # still queued, not silently dropped


def test_drain_with_non_advancing_sleep_terminates(spark, data_base, tmp_path):
    """A pathological injected sleep that does not advance the clock
    must not spin stop() forever."""
    fake_now = [1000.0]

    def always_fail(spark_, ref, catalog):
        raise RuntimeError("permanent")

    orch = Orchestrator(
        spark,
        data_base,
        catalog=DeploymentCatalog(spark, tmp_path / "catalog.json"),
        config={"orchestrator": {"max_retries": 5, "retry_backoff_base": 2, "shutdown_timeout": 300}},
        load_fn=always_fail,
        clock=lambda: fake_now[0],
    )
    orch.scan_once()
    assert orch.stop(drain=True, sleep=lambda s: None) is False


def test_scan_walks_only_new_snapshots(spark, tmp_path, monkeypatch):
    """Discovery walks a snapshot's tree only until this orchestrator
    has seen it: a scan over 120 seen snapshots calls ``_list_table``
    zero times, and a new snapshot's two table dirs are the only ones
    walked. The queue and the stats come out as they do for an
    orchestrator whose discovery walks every tree on every scan."""
    from neo4j_blue_green_arrow_etl_spark.sources import snapshot

    base = tmp_path / "data"

    def publish(customer, ts):
        for table in ("nodes/Entity", "relationships/KNOWS"):
            d = base / customer / str(ts) / table
            d.mkdir(parents=True)
            (d / "part-00000.parquet").write_bytes(b"PAR1")

    for i in range(120):
        publish(f"c{i % 3}", 100 + i)
    walks = []
    real_list = snapshot._list_table
    monkeypatch.setattr(snapshot, "_list_table", lambda d: walks.append(d) or real_list(d))
    real_discover = orchestrator.discover_snapshots

    def walk_all(base_path, seen=frozenset()):
        return real_discover(base_path)

    skipping = make_orch(spark, str(base), tmp_path)
    walking = Orchestrator(spark, str(base), catalog=DeploymentCatalog(spark))

    def scan():
        walks.clear()
        found = skipping.scan_once()
        skipped_walks = len(walks)
        with monkeypatch.context() as m:
            m.setattr(orchestrator, "discover_snapshots", walk_all)
            assert walking.scan_once() == found
        for orch in (skipping, walking):
            assert orch._queue == skipping._queue
            assert {**orch.stats.as_dict(), "uptime_sec": 0} == {
                **skipping.stats.as_dict(),
                "uptime_sec": 0,
            }
        return found, skipped_walks

    assert scan() == (120, 240)
    assert scan() == (0, 0)
    publish("c1", 500)
    assert scan() == (1, 2)
    assert skipping._queue[-1].snapshot.database == "c1-500"


def test_restarted_orchestrator_skips_deployed_snapshots(
    spark, sf_dir, data_base, tmp_path
):
    """ST2 across restarts: a NEW orchestrator over a catalog restored
    from the manifest (views wiped, as after a session restart) must
    not reload snapshots that are already deployed — the Prefect
    variant's catalog existence check (orchestrator_prefect.py:339-345)."""
    orch = make_orch(spark, data_base, tmp_path)
    assert orch.run_cycle() == 1
    assert orch.catalog.count_via_alias("customer1") > 0

    for v in spark.catalog.listTables():  # simulate restart
        if v.isTemporary:
            spark.catalog.dropTempView(v.name)
    cat2 = DeploymentCatalog(spark, tmp_path / "catalog.json")
    orch2 = Orchestrator(spark, data_base, catalog=cat2, status_path=tmp_path / "s2.json")
    assert orch2.run_cycle() == 0
    assert orch2.stats.skipped_existing == 1
    assert orch2.stats.completed == 0
    # and the restored deployment still answers the consumer contract
    assert cat2.count_via_alias("customer1") > 0


def test_multi_customer_isolation(spark, sf_dir, tmp_path):
    """Two customers' snapshots interleave through one orchestrator:
    aliases, retention, and latest-wins stay per-customer."""
    base = str(tmp_path / "data")
    for cust, ts_list in {"acme": (100, 300), "globex": (200,)}.items():
        for ts in ts_list:
            FX.materialize_snapshot(spark, sf_dir, base, cust, ts)
    orch = make_orch(spark, base, tmp_path, max_concurrent_loads=2)
    for _ in range(3):
        orch.run_cycle()
    cat = orch.catalog
    assert cat.alias_target("acme") == "acme-300"
    assert cat.alias_target("globex") == "globex-200"
    # a newer globex snapshot must not disturb acme's alias
    FX.materialize_snapshot(spark, sf_dir, base, "globex", 400)
    orch.run_cycle()
    assert cat.alias_target("acme") == "acme-300"
    assert cat.alias_target("globex") == "globex-400"
    assert set(cat.list_databases("acme-")) == {"acme-100", "acme-300"}
    assert set(cat.list_databases("globex-")) == {"globex-200", "globex-400"}


def test_concurrency_cap_respected(spark, sf_dir, tmp_path):
    """max_concurrent_loads bounds the per-cycle load count (ST5)."""
    base = str(tmp_path / "data")
    for ts in (1, 2, 3, 4, 5):
        FX.materialize_snapshot(spark, sf_dir, base, "acme", ts)
    orch = make_orch(spark, base, tmp_path, max_concurrent_loads=2)
    assert orch.run_cycle() == 2
    assert orch.run_cycle() == 2
    assert orch.run_cycle() == 1


def test_run_scans_every_scan_interval(spark, sf_dir, data_base, tmp_path):
    """ST1: ``run`` sleeps ``scan_interval`` between cycles, and a
    snapshot that lands during the sleep loads on the next cycle."""
    orch = make_orch(spark, data_base, tmp_path, scan_interval=7)
    slept = []

    def sleep(seconds):
        slept.append(seconds)
        FX.materialize_snapshot(spark, sf_dir, data_base, "customer1", 1767742000)

    orch.run(max_cycles=2, sleep=sleep)
    assert slept == [7]
    assert orch.stats.completed == 2
    assert orch.catalog.alias_target("customer1") == "customer1-1767742000"


def test_run_loads_a_backlog_back_to_back(spark, sf_dir, tmp_path):
    """ST1/ST5: while a due task is queued, ``run`` starts the next
    cycle at once, so three snapshots that land together load in three
    cycles with no ``scan_interval`` sleep between them."""
    base = str(tmp_path / "data")
    for ts in (1, 2, 3):
        FX.materialize_snapshot(spark, sf_dir, base, "acme", ts)
    orch = make_orch(spark, base, tmp_path)
    slept = []
    orch.run(max_cycles=3, sleep=slept.append)
    assert slept == []
    assert orch.stats.completed == 3
    assert orch.catalog.alias_target("acme") == "acme-3"


def test_run_sleeps_after_a_health_deferred_cycle(spark, sf_dir, tmp_path):
    """ST1/ST7: a cycle whose task the health gate deferred is followed
    by the ``scan_interval`` sleep even while other tasks are due, so a
    backlog under sustained pressure is not deferred back to back."""
    base = str(tmp_path / "data")
    for ts in (1, 2, 3):
        FX.materialize_snapshot(spark, sf_dir, base, "acme", ts)
    orch = Orchestrator(
        spark,
        base,
        catalog=DeploymentCatalog(spark, tmp_path / "catalog.json"),
        status_path=tmp_path / "status.json",
        heap_fraction_fn=lambda: 0.95,
    )
    slept = []
    orch.run(max_cycles=3, sleep=slept.append)
    assert slept == [30, 30]
    assert orch.stats.health_deferred == 3 and orch.stats.completed == 0


def test_ctrl_c_during_a_load_is_recorded_and_requeued(
    spark, sf_dir, data_base, tmp_path
):
    """Ctrl-C during a load (pyspark cancels the running jobs and raises
    ``KeyboardInterrupt`` inside ``process_task``) records an
    ``interrupted`` attempt and puts the task back at the head of the
    queue without consuming a retry, so the drain that follows loads it."""
    FX.materialize_snapshot(spark, sf_dir, data_base, "customer2", 1767741427)
    calls = []

    def interrupted_once(spark_, ref, catalog):
        calls.append(ref.database)
        if len(calls) == 1:
            raise KeyboardInterrupt
        orchestrator.load_snapshot(spark_, ref, catalog)

    orch = Orchestrator(
        spark,
        data_base,
        catalog=DeploymentCatalog(spark, tmp_path / "catalog.json"),
        load_fn=interrupted_once,
    )
    with pytest.raises(KeyboardInterrupt):
        orch.run_cycle()
    assert orch.task_log[-1]["db"] == "customer1-1767741427"
    assert orch.task_log[-1]["state"] == "interrupted"
    assert [t.snapshot.database for t in orch._queue] == [
        "customer1-1767741427",
        "customer2-1767741427",
    ]
    assert orch._queue[0].retry_count == 0

    assert orch.stop() is True
    assert orch.stats.completed == 2
    assert orch.stats.retried == 0 and orch.stats.failed == 0
    assert [(t["db"], t["state"], t["attempt"]) for t in orch.task_log] == [
        ("customer1-1767741427", "interrupted", 1),
        ("customer1-1767741427", "completed", 1),
        ("customer2-1767741427", "completed", 1),
    ]
