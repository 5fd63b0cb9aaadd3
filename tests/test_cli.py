"""CLI parity (reference scripts/): drive __main__.main() through the
same argv surface a shell user hits."""

from __future__ import annotations

import pytest

from neo4j_blue_green_arrow_etl_spark import fixtures as FX
from neo4j_blue_green_arrow_etl_spark.__main__ import main

from conftest import SF_SMOKE


@pytest.fixture()
def base(spark, tmp_path):
    b = str(tmp_path / "data")
    FX.materialize_snapshot(spark, SF_SMOKE, b, "acme", 1000)
    return b


def test_load_then_count_and_listings(base, capsys):
    assert main(["--base", base, "load", "--customer", "acme", "--timestamp", "1000"]) == 0
    out = capsys.readouterr().out
    assert "loaded acme-1000" in out and "alias acme -> acme-1000" in out
    assert main(["--base", base, "databases"]) == 0
    assert "acme-1000" in capsys.readouterr().out
    assert main(["--base", base, "count", "--customer", "acme"]) == 0
    assert int(capsys.readouterr().out.strip()) > 0


def test_no_switch_keeps_alias(base, capsys):
    main(["--base", base, "load", "--customer", "acme", "--timestamp", "1000"])
    main(["--base", base, "simulate", "--customer", "acme", "--source-ts", "1000", "--new-ts", "500"])
    capsys.readouterr()
    assert main(["--base", base, "load", "--customer", "acme", "--timestamp", "500", "--no-switch"]) == 0
    main(["--base", base, "aliases"])
    assert "acme -> acme-1000" in capsys.readouterr().out  # unchanged


def test_orchestrate_cycles_picks_up_simulated(base, capsys):
    main(["--base", base, "simulate", "--customer", "acme", "--source-ts", "1000", "--new-ts", "2000"])
    capsys.readouterr()
    assert main(["--base", base, "orchestrate", "--cycles", "3"]) == 0
    main(["--base", base, "aliases"])
    assert "acme -> acme-2000" in capsys.readouterr().out


def test_error_paths_are_clean(base, capsys):
    assert main(["--base", base, "load", "--customer", "ghost", "--timestamp", "7"]) == 1
    assert "does not exist" in capsys.readouterr().err
    assert main(["--base", base, "count", "--customer", "ghost"]) == 1
    assert "error: alias 'ghost' does not exist" in capsys.readouterr().err
    assert main(["--base", base, "simulate", "--customer", "acme", "--source-ts", "1", "--new-ts", "2"]) == 1


def test_demo_workflow_end_to_end(tmp_path, capsys):
    """scripts/demo_workflow.py + cleanup_demo.py parity: blue load with
    alias, green staged without switch, cutover, retention, teardown."""
    base = str(tmp_path / "demo")
    assert main(["--base", base, "demo", "--customers", "2"]) == 0
    out = capsys.readouterr().out
    assert "aliases still serve blue" in out
    assert "demo complete" in out
    # state persisted via manifest: a separate invocation sees the graph
    assert main(["--base", base, "count", "--customer", "democust1"]) == 0
    assert main(["--base", base, "demo", "--customers", "2", "--cleanup"]) == 0
    capsys.readouterr()
    assert main(["--base", base, "databases"]) == 0
    assert capsys.readouterr().out.strip() == ""


@pytest.mark.parametrize(
    "method, argv",
    [("run", []), ("run_cycle", ["--cycles", "2"])],
    ids=["forever", "cycles"],
)
def test_orchestrate_drains_queue_on_ctrl_c(base, capsys, monkeypatch, method, argv):
    """Ctrl-C (ST8): a snapshot queued before the interrupt is still
    loaded by the graceful drain, and the stats are printed."""
    import json
    from pathlib import Path

    from neo4j_blue_green_arrow_etl_spark.streaming.orchestrator import Orchestrator

    def interrupted(self, *args, **kwargs):
        self.scan_once()
        raise KeyboardInterrupt

    monkeypatch.setattr(Orchestrator, method, interrupted)
    try:
        rc = main(["--base", base, "orchestrate", *argv])
    except KeyboardInterrupt:
        pytest.fail("Ctrl-C escaped `orchestrate` without draining the queue")
    assert rc == 0
    out = capsys.readouterr().out
    stats = json.loads(out[out.index("{") :])
    assert stats["discovered"] == 1 and stats["completed"] == 1
    status = json.loads((Path(base) / "status.json").read_text())
    assert status["completed"] == 1 and status["queue_size"] == 0
    assert [(t["db"], t["state"]) for t in status["tasks"]] == [("acme-1000", "completed")]


def test_sql_over_catalog_views_and_warehouse(base, capsys):
    """`sql` runs ad-hoc SQL: catalog alias views after a load, the
    warehouse tables via --sf-dir, JSON-line rows, and the limit cap."""
    import json

    assert main(["--base", base, "load", "--customer", "acme", "--timestamp", "1000"]) == 0
    capsys.readouterr()
    assert (
        main(["--base", base, "sql", "SELECT COUNT(*) AS n FROM acme_nodes"]) == 0
    )
    out = capsys.readouterr().out.strip()
    assert json.loads(out)["n"] > 0
    assert (
        main(
            [
                "--base", base, "sql",
                "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
                "GROUP BY 1 ORDER BY 1",
                "--sf-dir", SF_SMOKE,
            ]
        )
        == 0
    )
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 3 and all("l_returnflag" in l for l in lines)
    # limit cap
    assert (
        main(
            ["--base", base, "sql", "SELECT * FROM lineitem",
             "--sf-dir", SF_SMOKE, "--limit", "5"]
        )
        == 0
    )
    assert len(capsys.readouterr().out.strip().splitlines()) == 5
