from __future__ import annotations

import pytest

from neo4j_blue_green_arrow_etl_spark.config import (
    ConfigError,
    DEFAULTS,
    interpolate,
    load_config,
)


def test_interpolate_env(monkeypatch):
    monkeypatch.setenv("NBG_HOST", "example.com")
    assert interpolate("bolt://${NBG_HOST}:7687") == "bolt://example.com:7687"


def test_interpolate_default(monkeypatch):
    monkeypatch.delenv("NBG_MISSING", raising=False)
    assert interpolate("${NBG_MISSING:fallback}") == "fallback"


def test_interpolate_missing_raises(monkeypatch):
    monkeypatch.delenv("NBG_MISSING", raising=False)
    with pytest.raises(ConfigError):
        interpolate("${NBG_MISSING}")


def test_load_config_defaults():
    cfg = load_config()
    assert cfg["orchestrator"]["scan_interval"] == DEFAULTS["orchestrator"]["scan_interval"]


def test_load_config_yaml_with_env(tmp_path, monkeypatch):
    monkeypatch.setenv("NBG_INTERVAL", "5")
    p = tmp_path / "config.yaml"
    p.write_text("orchestrator:\n  scan_interval: ${NBG_INTERVAL}\n")
    cfg = load_config(p)
    # whole-scalar ${...} placeholders come back YAML-typed
    assert cfg["orchestrator"]["scan_interval"] == 5
    # knobs nothing reads any more are still accepted in old files
    legacy = tmp_path / "legacy.yaml"
    legacy.write_text(
        "orchestrator:\n  scan_interval: ${NBG_INTERVAL}\n  num_workers: 4\n"
        "worker:\n  concurrency: 10\n  arrow_table_size: 100000\n"
    )
    assert load_config(legacy)["orchestrator"]["scan_interval"] == 5


def test_validate_rejects_negative():
    with pytest.raises(ConfigError):
        load_config(overrides={"orchestrator": {"scan_interval": -1}})


@pytest.mark.parametrize(
    "key, value",
    [
        ("keep_count", "2"),
        ("keep_count", -1),
        ("keep_count", True),
        ("max_databases", "50"),
        ("max_concurrent_loads", 1.5),
        ("max_retries", 2.0),
        ("heap_threshold_percent", 0),
        ("heap_threshold_percent", 101),
        ("heap_threshold_percent", "85"),
    ],
)
def test_orchestrator_rejects_bad_int_and_percent_keys(spark, tmp_path, key, value):
    """Counts the orchestrator slices or compares with must be
    non-negative ints, and the heap gate must lie in (0, 100]: each of
    these values used to pass validation and then fail every load."""
    from neo4j_blue_green_arrow_etl_spark.streaming.orchestrator import Orchestrator

    with pytest.raises(ConfigError, match=key):
        Orchestrator(spark, tmp_path, config={"orchestrator": {key: value}})


@pytest.mark.parametrize("key", ["scan_interval", "shutdown_timeout", "retry_backoff_base"])
@pytest.mark.parametrize("value", [True, float("nan"), float("inf")])
def test_orchestrator_rejects_bool_and_non_finite_times(spark, tmp_path, key, value):
    """The orchestrator sleeps and schedules retries by these numbers: a
    NaN backoff leaves a retried task queued forever (``nan <= now`` is
    never true), a NaN interval or timeout makes ``time.sleep`` raise,
    an infinite one never wakes, and ``true`` silently means 1."""
    from neo4j_blue_green_arrow_etl_spark.streaming.orchestrator import Orchestrator

    with pytest.raises(ConfigError, match=key):
        Orchestrator(spark, tmp_path, config={"orchestrator": {key: value}})
