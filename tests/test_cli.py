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


def test_curate_writes_split_partitioned_corpus(spark, tmp_path, capsys):
    """`curate` writes the dedup+quality+split corpus partitioned by
    split with a stats sidecar; row count matches the oracle-gated
    q_x7_corpus form, and --decontam additionally drops benchmark and
    contaminated docs (q_x8 semantics)."""
    import json
    from pathlib import Path

    from neo4j_blue_green_arrow_etl_spark.operators import REGISTRY

    out = str(tmp_path / "corpus")
    assert (
        main(["curate", "--sf-dir", SF_SMOKE, "--out", out]) == 0
    )
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    sidecar = json.loads(Path(out, "_curation_stats.json").read_text())
    assert payload == sidecar
    want = REGISTRY["q_x7_corpus"].spark(spark, SF_SMOKE).count()
    assert payload["curated_docs"] == want
    splits = {p.name for p in Path(out).iterdir() if p.is_dir()}
    assert splits == {f"split={s}" for s in payload["splits"]}
    back = spark.read.parquet(out)
    assert back.count() == want
    assert {"doc_id", "text", "lang", "source", "n_tokens", "quality_score", "split"} <= set(back.columns)

    out2 = str(tmp_path / "corpus_decontam")
    assert (
        main(["curate", "--sf-dir", SF_SMOKE, "--out", out2, "--decontam"]) == 0
    )
    payload2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload2["curated_docs"] < payload["curated_docs"]
    # decontam-survivors must be a subset of q_x8's survivor list
    survivors = {
        r.doc_id for r in REGISTRY["q_x8_decontam"].spark(spark, SF_SMOKE).collect()
    }
    kept = {r.doc_id for r in spark.read.parquet(out2).collect()}
    assert kept <= survivors


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


def test_curate_jsonl_format(spark, tmp_path, capsys):
    """--format jsonl writes newline-delimited JSON shards a training
    loader can read directly; counts match the parquet path."""
    import json
    from pathlib import Path

    out = str(tmp_path / "corpus_jsonl")
    assert (
        main(["curate", "--sf-dir", SF_SMOKE, "--out", out, "--format", "jsonl"]) == 0
    )
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["format"] == "jsonl" and payload["curated_docs"] > 0
    part = next(Path(out).glob("split=*/part-*.json"))
    first = json.loads(part.read_text().splitlines()[0])
    assert {"doc_id", "text", "lang", "n_tokens"} <= set(first)


def test_retract_ingest_cli(spark, tmp_path, capsys):
    """`retract-ingest` drains a mixed event stream, prints a JSON
    summary whose live count reflects the takedowns, and a re-run over
    the unchanged directory is a checkpointed no-op with identical
    output."""
    import json as _json
    import shutil as _sh

    from pyspark.sql import functions as F

    src = tmp_path / "events"
    src.mkdir()
    rows_by_batch = [
        [("doc", 0, "w0 w1 w2 w3 w4 w5 group a"),
         ("doc", 1, "u1a u1b u1c u1d u1e u1f u1g u1h")],
        [("retract", 0, None),
         ("doc", 10, "w0 w1 w2 w3 w4 w5 group a"),
         ("doc", 11, "v1a v1b v1c v1d v1e v1f v1g v1h")],
    ]
    for b, rows in enumerate(rows_by_batch):
        stage = src / f"_stage_{b}"
        spark.createDataFrame(
            rows, "kind STRING, doc_id BIGINT, text STRING"
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        data = next(p for p in stage.glob("part-*.parquet"))
        data.rename(src / f"events_{b}.parquet")
        _sh.rmtree(stage)

    argv = [
        "retract-ingest",
        "--input", str(src),
        "--state", str(tmp_path / "state"),
        "--out", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckp"),
    ]
    assert main(argv) == 0
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # doc 10 re-admitted (its only match, doc 0, was retracted first);
    # doc 0 admitted then left the corpus
    assert payload == {
        "admitted": 4, "live": 3, "retracted_from_corpus": 1
    }
    from neo4j_blue_green_arrow_etl_spark.streaming.retract_ingest import (
        live_corpus,
    )

    live = sorted(
        r.doc_id
        for r in live_corpus(spark, str(tmp_path / "out")).collect()
    )
    assert live == [1, 10, 11]

    # idempotent re-run (checkpoint holds)
    assert main(argv) == 0
    payload2 = _json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    )
    assert payload2 == payload
