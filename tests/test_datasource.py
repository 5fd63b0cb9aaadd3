"""The ``snapshotarrivals`` streaming source: snapshot discovery as a
Structured Streaming stream whose exactly-once dedup lives in the
checkpoint's offset log."""

from __future__ import annotations

from pathlib import Path

import neo4j_blue_green_arrow_etl_spark.fixtures as FX
from neo4j_blue_green_arrow_etl_spark.sources.snapshot_datasource import (
    SnapshotArrivalStreamReader,
    register_arrival_source,
)

from conftest import SF_SMOKE


def _run_available(spark, base, checkpoint, out_dir):
    """One availableNow run writing discoveries to a parquet sink (the
    memory sink cannot recover from a checkpoint); returns the
    CUMULATIVE discovered set across all runs sharing the sink."""
    register_arrival_source(spark)
    q = (
        spark.readStream.format("snapshotarrivals")
        .option("path", base)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    out = spark.read.parquet(out_dir)
    rows = [(r.customer_id, r.timestamp) for r in out.collect()]
    assert len(rows) == len(set(rows)), "duplicate discovery emitted"
    return set(rows)


def test_arrival_stream_discovers_then_stays_exactly_once(spark, tmp_path):
    """The watcher loop as a Structured Streaming source: first run
    discovers existing complete snapshots; a restart from the SAME
    checkpoint re-emits nothing (offset-log dedup, ST2); a new snapshot
    then arrives exactly once; incomplete trees stay invisible (ST4)."""
    base = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    FX.materialize_snapshot(spark, SF_SMOKE, base, "acme", 100)
    # incomplete: nodes only -> must NOT be discovered
    partial = Path(base) / "acme" / "200" / "nodes" / "Entity"
    partial.mkdir(parents=True)
    (partial / "x.parquet").write_bytes(b"pq")

    assert _run_available(spark, base, ckpt, out) == {("acme", 100)}
    # restart, nothing new -> cumulative set unchanged, no re-emission
    assert _run_available(spark, base, ckpt, out) == {("acme", 100)}
    # a second complete snapshot arrives -> exactly that one more
    FX.materialize_snapshot(spark, SF_SMOKE, base, "acme", 300)
    assert _run_available(spark, base, ckpt, out) == {
        ("acme", 100),
        ("acme", 300),
    }


def test_arrival_reader_offsets_are_replayable(tmp_path, spark):
    """readBetweenOffsets re-derives exactly the delta between two
    offsets (crash-recovery contract of the offset log)."""
    base = str(tmp_path / "data")
    FX.materialize_snapshot(spark, SF_SMOKE, base, "acme", 100)
    r = SnapshotArrivalStreamReader({"path": base})
    start = r.initialOffset()
    rows1, end1 = r.read(start)
    assert [(c, t) for c, t, _ in rows1] == [("acme", 100)]
    FX.materialize_snapshot(spark, SF_SMOKE, base, "acme", 300)
    rows2, end2 = r.read(end1)
    assert [(c, t) for c, t, _ in rows2] == [("acme", 300)]
    replay = list(r.readBetweenOffsets(end1, end2))
    assert [(c, t) for c, t, _ in replay] == [("acme", 300)]
    # full-range replay covers both
    assert {(c, t) for c, t, _ in r.readBetweenOffsets(start, end2)} == {
        ("acme", 100),
        ("acme", 300),
    }
