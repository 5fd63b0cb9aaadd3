"""Streaming admission with in-stream retractions
(streaming/retract_ingest.py): mixed doc/retract event stream ->
exactly-once tombstones applied BEFORE each batch's admissions ->
live corpus = admitted minus retracted. Pins stream equivalence to a
brute-force rule, the re-admission semantic (a takedown stops its
target blocking immediately), replay idempotence of the batch-tagged
tombstone write, and the crash window between the tombstone write and
the admission sinks."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from neo4j_blue_green_arrow_etl_spark.operators.dedup import (
    JACCARD_THRESHOLD,
)
from neo4j_blue_green_arrow_etl_spark.streaming.retract_ingest import (
    admit_batch_events,
    live_corpus,
)

EVENT_SCHEMA = "kind STRING, doc_id BIGINT, text STRING"


# --------------------------------------------------------------------------
# brute-force rule (pure Python, independent of every Spark code path)
# --------------------------------------------------------------------------


def _shingle_set(text: str) -> set[str]:
    ws = text.split()
    return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}


def _jac(a: set[str], b: set[str]) -> float:
    i = len(a & b)
    return i / (len(a) + len(b) - i)


def _expected_live(events_by_batch) -> list[int]:
    """events_by_batch: per batch, a list of ("doc", id, text) and
    ("retract", id) tuples. Contract: retractions only target docs
    ingested in a STRICTLY earlier batch; ids never reused."""
    retracted_at: dict[int, int] = {}
    docs: list[tuple[int, int, str]] = []
    for b, evs in enumerate(events_by_batch):
        for e in evs:
            if e[0] == "retract":
                retracted_at.setdefault(e[1], b)
            else:
                docs.append((b, e[1], e[2]))
    sh = {d: _shingle_set(t) for (_, d, t) in docs}
    admitted = []
    for (b, d, _) in sorted(docs):
        blocked = False
        for (b2, e, _) in docs:
            if (b2, e) >= (b, d):
                continue
            if retracted_at.get(e, 1 << 30) <= b:
                continue  # masked: taken down by d's batch
            if _jac(sh[d], sh[e]) >= JACCARD_THRESHOLD:
                blocked = True
                break
        if not blocked:
            admitted.append(d)
    return sorted(d for d in admitted if d not in retracted_at)


# --------------------------------------------------------------------------
# fixtures
# --------------------------------------------------------------------------

_W = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 words
)


def _doc(doc_id: int, tag: str) -> tuple[str, int, str]:
    # 10 shared lead words + 2 tag words: same-tag docs are exact-set
    # dups (jaccard 1.0). Cross-tag similarity lands wherever it
    # lands — every assertion goes through the brute-force
    # expected-rule helper, never a hand-derived jaccard.
    return ("doc", doc_id, f"{_W} {tag} {tag}x")


def _unique_doc(doc_id: int) -> tuple[str, int, str]:
    ws = " ".join(f"u{doc_id}w{i}" for i in range(12))
    return ("doc", doc_id, ws)


def _events_df(spark, evs):
    rows = [
        ("doc", e[1], e[2]) if e[0] == "doc" else ("retract", e[1], None)
        for e in evs
    ]
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def _run_fold(spark, tmp_path, events_by_batch, subdir=""):
    state = str(tmp_path / f"state{subdir}")
    out = str(tmp_path / f"out{subdir}")
    for b, evs in enumerate(events_by_batch):
        admit_batch_events(spark, _events_df(spark, evs), state, out, b)
    return state, out


# --------------------------------------------------------------------------
# tests
# --------------------------------------------------------------------------


def test_retraction_readmits_neardups_immediately(spark, tmp_path):
    """The core semantic: doc 10 duplicates doc 0; batch 1 retracts
    doc 0 BEFORE admitting doc 10, so doc 10 must be ADMITTED (without
    the retraction it drops — pinned by the control run)."""
    batches = [
        [_doc(0, "a"), _unique_doc(1)],
        [("retract", 0), _doc(10, "a"), _unique_doc(11)],
    ]
    state, out = _run_fold(spark, tmp_path, batches)
    live = sorted(r.doc_id for r in live_corpus(spark, out).collect())
    assert live == _expected_live(batches)
    assert 10 in live and 0 not in live

    # control: same stream WITHOUT the retraction -> doc 10 drops
    control = [
        [_doc(0, "a"), _unique_doc(1)],
        [_doc(10, "a"), _unique_doc(11)],
    ]
    state2, out2 = _run_fold(spark, tmp_path, control, subdir="2")
    live2 = sorted(
        r.doc_id for r in live_corpus(spark, out2).collect()
    )
    assert live2 == _expected_live(control)
    assert 10 not in live2 and 0 in live2


def test_fold_matches_bruteforce_rule(spark, tmp_path):
    """A 4-batch mixed stream with dup chains across batches matches
    the brute-force (batch, id)-ordered liveness rule exactly."""
    batches = [
        [_doc(0, "a"), _doc(1, "a"), _unique_doc(2), _doc(3, "b")],
        [("retract", 0), _doc(10, "a"), _doc(11, "b"), _unique_doc(12)],
        [("retract", 3), ("retract", 10), _doc(20, "a"), _doc(21, "b")],
        [("retract", 12), _doc(30, "c"), _unique_doc(31)],
    ]
    state, out = _run_fold(spark, tmp_path, batches)
    live = sorted(r.doc_id for r in live_corpus(spark, out).collect())
    assert live == _expected_live(batches)
    # the schedule above is non-vacuous on every path: a retraction
    # that re-admits (10 after retract 0? no — 1 still blocks; 20
    # probes a state where 0 and 10 are masked but 1 is live), and
    # retracted-but-admitted docs leaving the corpus
    assert 0 not in live and 3 not in live and 12 not in live


def test_retract_replay_is_idempotent(spark, tmp_path):
    """Replaying a batch (crash before checkpoint commit) rewrites its
    batch-tagged tombstone subdir instead of appending a second copy,
    and the corpus is unchanged."""
    batches = [
        [_doc(0, "a"), _unique_doc(1)],
        [("retract", 0), _doc(10, "a")],
    ]
    state, out = _run_fold(spark, tmp_path, batches)
    first = sorted(r.doc_id for r in live_corpus(spark, out).collect())
    tomb = Path(state) / "_TOMBSTONES"
    files_before = sorted(
        str(p.relative_to(tomb)) for p in tomb.rglob("*.parquet") if p.is_file()
    )
    # replay batch 1
    admit_batch_events(spark, _events_df(spark, batches[1]), state, out, 1)
    second = sorted(
        r.doc_id for r in live_corpus(spark, out).collect()
    )
    assert first == second
    files_after = sorted(
        str(p.relative_to(tomb)) for p in tomb.rglob("*.parquet") if p.is_file()
    )
    # same ONE batch-1 subdir (content rewritten, never accreted)
    assert len(
        [f for f in files_after if f.startswith("batch-1.parquet")]
    ) == len([f for f in files_before if f.startswith("batch-1.parquet")])
    # and the tombstone SET is still exactly {0}
    from neo4j_blue_green_arrow_etl_spark.operators.dedup_index import (
        _tombstones,
    )

    t = _tombstones(spark, state)
    assert sorted(r.doc_id for r in t.collect()) == [0]


def test_crash_between_tombstone_and_admission_recovers(spark, tmp_path):
    """Kill the batch AFTER its tombstone write but BEFORE its
    admission sinks: the replay must rewrite the same tombstones and
    derive the same admissions — final state equals a clean run."""
    from neo4j_blue_green_arrow_etl_spark.streaming import retract_ingest

    batches = [
        [_doc(0, "a"), _unique_doc(1)],
        [("retract", 0), _doc(10, "a"), _unique_doc(11)],
    ]
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    admit_batch_events(spark, _events_df(spark, batches[0]), state, out, 0)

    real_admit = retract_ingest.admit_batch

    def crash_admit(*a, **k):
        raise RuntimeError("injected crash after tombstone write")

    retract_ingest.admit_batch = crash_admit
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            admit_batch_events(
                spark, _events_df(spark, batches[1]), state, out, 1
            )
    finally:
        retract_ingest.admit_batch = real_admit

    # tombstone landed, admitted-b1 did not
    assert (Path(state) / "_TOMBSTONES" / "batch-1.parquet").exists()
    assert not (Path(out) / "admitted-b1.parquet").exists()

    # replay batch 1 (checkpoint never committed it)
    admit_batch_events(spark, _events_df(spark, batches[1]), state, out, 1)
    live = sorted(r.doc_id for r in live_corpus(spark, out).collect())
    assert live == _expected_live(batches)

    # equals a clean never-crashed run
    state2, out2 = _run_fold(spark, tmp_path, batches, subdir="2")
    clean = sorted(
        r.doc_id for r in live_corpus(spark, out2).collect()
    )
    assert live == clean


def test_midstream_compaction_drops_retracted_postings(spark, tmp_path):
    """Compaction between batches of the retraction pipeline: the fold
    is computed tombstone-masked, so a retracted doc's postings leave
    the state table PHYSICALLY mid-stream — and the live corpus is
    unchanged."""
    from neo4j_blue_green_arrow_etl_spark.operators.dedup_index import (
        compact_index,
        ensure_index_table,
    )
    from neo4j_blue_green_arrow_etl_spark.streaming.retract_ingest import (
        _retract_ledger_ids,
    )

    batches = [
        [_doc(0, "a"), _doc(1, "a"), _unique_doc(2)],
        [("retract", 0), _doc(10, "a"), _unique_doc(11)],
        [("retract", 1), _doc(20, "a")],
        [_doc(30, "b"), _unique_doc(31)],
    ]
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    for b, evs in enumerate(batches):
        if b == 3:
            compact_index(spark, state, b - 1)  # fold through batch 2
        admit_batch_events(spark, _events_df(spark, evs), state, out, b)
    live = sorted(r.doc_id for r in live_corpus(spark, out).collect())
    assert live == _expected_live(batches)
    # the fold landed (a negative-generation partition exists) and the
    # retracted docs' postings are PHYSICALLY gone from sealed state
    table = ensure_index_table(spark, state)
    state_rows = spark.table(table)
    assert state_rows.filter("batch_id < 0").count() > 0
    sealed = state_rows.filter("batch_id <= 2")
    assert sealed.filter("doc_id IN (0, 1)").count() == 0
    # non-retracted early docs' postings survived the fold
    assert sealed.filter("doc_id = 2").count() > 0
    # RETIREMENT: the fold physically applied tombstones 0 and 1, so
    # the mask sidecar no longer carries them (bounded broadcast set on
    # an infinite stream) — while the PERMANENT ledger still records
    # them, which is what keeps live_corpus correct above
    from neo4j_blue_green_arrow_etl_spark.operators.dedup_index import (
        _tombstones,
    )

    # r10: with every tombstone applied and batch 3 retraction-free,
    # retirement removes the sidecar entirely (None = fast path back)
    t = _tombstones(spark, state)
    masked_now = set() if t is None else {r.doc_id for r in t.collect()}
    assert not masked_now & {0, 1}
    recorded = {r.doc_id for r in _retract_ledger_ids(spark, out).collect()}
    assert {0, 1} <= recorded


def test_tagged_and_flat_tombstones_compose(spark, tmp_path):
    """A maintenance delete_from_index append (flat part file) and the
    streaming batch-tagged subdirs read as ONE tombstone set — the
    recursive mask sees both layouts."""
    from neo4j_blue_green_arrow_etl_spark.operators.dedup_index import (
        _tombstones,
        delete_from_index,
        ensure_index_table,
    )

    state = str(tmp_path / "state")
    ensure_index_table(spark, state)
    delete_from_index(spark, state, [7, 8])  # flat append
    delete_from_index(spark, state, [9], batch_tag=3)  # tagged subdir
    t = _tombstones(spark, state)
    assert sorted(r.doc_id for r in t.collect()) == [7, 8, 9]


# --------------------------------------------------------------------------
# ANN twin: streaming embedding retractions (streaming/ann_ingest.
# stream_embedding_retract_ingest)
# --------------------------------------------------------------------------

from conftest import SF_SMOKE  # noqa: E402


def _stage_vec_events(spark, src, batches):
    """batches: per batch, (vec_filter_sql, retract_ids). Stages one
    mixed event file per batch from the smoke embeddings table."""
    import pyspark.sql.functions as F

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    src.mkdir(parents=True, exist_ok=True)
    for b, (vec_sql, retract_ids) in enumerate(batches):
        ev = e.filter(vec_sql).select(
            F.lit("vec").alias("kind"), "vec_id", "embedding"
        )
        if retract_ids:
            ev = ev.unionByName(
                e.filter(F.col("vec_id").isin(list(retract_ids))).select(
                    F.lit("retract").alias("kind"),
                    "vec_id",
                    F.lit(None).cast("array<float>").alias("embedding"),
                )
            )
        stage = src / f"_stage_{b}"
        ev.coalesce(1).write.mode("overwrite").parquet(str(stage))
        data = next(p for p in stage.glob("part-*.parquet"))
        data.rename(src / f"events_{b}.parquet")
        shutil.rmtree(stage)


def _boot_ann(spark, tmp_path):
    """Train on the vec_id%4==0 bootstrap quarter; returns idx path."""
    from pyspark.sql import functions as F

    from neo4j_blue_green_arrow_etl_spark.operators.similarity import (
        build_ivfpq_index,
    )

    boot = tmp_path / "boot"
    spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").filter(
        F.col("vec_id") % 4 == 0
    ).write.parquet(str(boot / "embeddings.parquet"))
    idx = str(tmp_path / "annidx")
    build_ivfpq_index(spark, str(boot), idx)
    return idx


def test_ann_retract_stream_live_set(spark, tmp_path):
    """Mixed vec/retract embedding stream with a mid-stream fold: the
    masked at-rest id set equals streamed-minus-retracted, retracted
    vectors are not findable, and fold-covered retractions are
    physically gone."""
    from pyspark.sql import functions as F

    from neo4j_blue_green_arrow_etl_spark.operators.similarity import (
        mask_deleted_vectors,
        query_ivfpq_index,
    )
    from neo4j_blue_green_arrow_etl_spark.streaming.ann_ingest import (
        stream_embedding_retract_ingest,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    all_ids = {r.vec_id for r in e.select("vec_id").collect()}
    boot_ids = {v for v in all_ids if v % 4 == 0}
    # batch 0 retracts two bootstrap ids; batch 2 retracts one
    # residue-1 id (ingested by batch 0) — takedowns of earlier
    # arrivals only
    victims0 = sorted(boot_ids)[:2]
    victim2 = sorted(v for v in all_ids if v % 4 == 1)[0]
    idx = _boot_ann(spark, tmp_path)
    src = tmp_path / "arrivals"
    _stage_vec_events(
        spark,
        src,
        [
            ("vec_id % 4 = 1", victims0),
            ("vec_id % 4 = 2", []),
            ("vec_id % 4 = 3", [victim2]),
        ],
    )
    stream_embedding_retract_ingest(
        spark, str(src), idx, str(tmp_path / "ckp"), compact_every=2
    )
    retracted = set(victims0) | {victim2}
    live = {
        r.vec_id
        for r in mask_deleted_vectors(spark, spark.read.parquet(idx), idx)
        .select("vec_id")
        .collect()
    }
    assert live == all_ids - retracted
    # non-findability through the query path (victim2's own embedding)
    qvec = e.filter(F.col("vec_id") == victim2).first().embedding
    hits = [
        r.vec_id
        for r in query_ivfpq_index(
            spark, idx, qvec, exclude_id=victim2
        ).collect()
    ]
    assert not set(hits) & retracted
    # the batch-2 fold ran AFTER batch 0's tombstones: victims0's rows
    # are physically gone from the raw files; victim2 (tombstoned
    # after the fold) is only masked
    raw = spark.read.parquet(idx)
    assert raw.filter(F.col("vec_id").isin(victims0)).count() == 0
    assert raw.filter(F.col("vec_id") == victim2).count() > 0
    # RETIREMENT (ANN twin): the fold applied victims0's tombstones
    # and dropped them from the mask sidecar; victim2's (written after
    # the fold) is still masking
    tomb_now = {
        r.vec_id
        for r in spark.read.schema("vec_id BIGINT")
        .parquet(str(Path(idx, "_TOMBSTONES")))
        .collect()
    }
    assert not tomb_now & set(victims0)
    assert victim2 in tomb_now

    # restart over the unchanged directory: a checkpointed no-op
    stream_embedding_retract_ingest(
        spark, str(src), idx, str(tmp_path / "ckp"), compact_every=2
    )
    live2 = {
        r.vec_id
        for r in mask_deleted_vectors(spark, spark.read.parquet(idx), idx)
        .select("vec_id")
        .collect()
    }
    assert live2 == live


def test_ann_retract_crash_between_tombstone_and_append(spark, tmp_path):
    """Kill a batch after its tombstone file, before its append: the
    replay rewrites the same tombstone atomically and appends once —
    final state equals a clean run."""
    from pyspark.sql import functions as F

    from neo4j_blue_green_arrow_etl_spark.operators.similarity import (
        delete_vectors,
        append_ivfpq_batch,
        mask_deleted_vectors,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    idx = _boot_ann(spark, tmp_path)
    batch = e.filter(F.col("vec_id") % 4 == 1).select("vec_id", "embedding")
    victims = [
        r.vec_id
        for r in e.filter(F.col("vec_id") % 4 == 0)
        .select("vec_id")
        .limit(2)
        .collect()
    ]
    # the batch body, crash-split: tombstone landed, append did not
    delete_vectors(spark, idx, victims, batch_tag=0)
    tomb_file = Path(idx, "_TOMBSTONES", "batch-0.parquet")
    assert tomb_file.is_file()
    # replay the whole batch (checkpoint never committed it)
    delete_vectors(spark, idx, victims, batch_tag=0)
    append_ivfpq_batch(spark, idx, batch, 1)
    live = {
        r.vec_id
        for r in mask_deleted_vectors(spark, spark.read.parquet(idx), idx)
        .select("vec_id")
        .collect()
    }
    boot_ids = {r.vec_id for r in e.filter("vec_id % 4 = 0").select("vec_id").collect()}
    b1_ids = {r.vec_id for r in batch.select("vec_id").collect()}
    assert live == (boot_ids | b1_ids) - set(victims)
    # exactly ONE tombstone file for the batch (atomic replace, no
    # accretion) holding exactly the victim set
    tombs = [
        p
        for p in Path(idx, "_TOMBSTONES").glob("*.parquet")
        if p.is_file()
    ]
    assert [p.name for p in tombs] == ["batch-0.parquet"]
    got = {
        r.vec_id
        for r in spark.read.parquet(str(tomb_file)).collect()
    }
    assert got == set(victims)


# --------------------------------------------------------------------------
# enforced reuse contract + tombstone-free fast path (r10)
# --------------------------------------------------------------------------


def test_reingest_of_retracted_id_raises(spark, tmp_path):
    """The r9 'undefined behavior' is now an enforced contract: a doc
    row whose id was tombstoned by ANY batch (earlier or its own)
    raises before any admission/state write, and the failed batch
    replays to the same failure."""
    state = str(tmp_path / "state_reuse")
    out = str(tmp_path / "out_reuse")
    admit_batch_events(
        spark, _events_df(spark, [_doc(0, "a"), _unique_doc(1)]), state, out, 0
    )
    admit_batch_events(
        spark, _events_df(spark, [("retract", 0)]), state, out, 1
    )
    bad = _events_df(spark, [_doc(0, "a")])
    with pytest.raises(ValueError, match="re-ingests retracted"):
        admit_batch_events(spark, bad, state, out, 2)
    # no admission or state write happened for the failed batch
    assert not Path(out, "admitted-b2.parquet").exists()
    assert not list(Path(state).glob("batch_id=2"))
    # replay fails identically (tombstone/ledger writes are idempotent)
    with pytest.raises(ValueError, match="re-ingests retracted"):
        admit_batch_events(spark, bad, state, out, 2)
    assert sorted(r.doc_id for r in live_corpus(spark, out).collect()) == [1]


def test_reingest_raises_after_tombstone_retirement(spark, tmp_path):
    """ADVICE r10: 'retraction is permanent' must survive tombstone
    RETIREMENT — compact_index physically applies and then retires
    sidecar tombstones, so a sidecar-only guard stops enforcing after
    the first fold. The guard now consults the sealed retract LEDGER
    (the record with permanent lifetime): re-ingesting a retracted id
    still raises after a compaction fold has retired its tombstone."""
    from neo4j_blue_green_arrow_etl_spark.operators.dedup_index import (
        _TOMBSTONES_DIR,
        compact_index,
    )

    state = str(tmp_path / "state_retired")
    out = str(tmp_path / "out_retired")
    admit_batch_events(
        spark, _events_df(spark, [_doc(0, "a"), _unique_doc(1)]), state, out, 0
    )
    admit_batch_events(
        spark, _events_df(spark, [("retract", 0), _unique_doc(2)]), state, out, 1
    )
    # fold through the sealed batches: applies the tombstone physically
    # and retires it from the sidecar
    compact_index(spark, state, 1)
    live_tombs = [
        p
        for p in Path(state, _TOMBSTONES_DIR).glob("*.parquet")
        if not p.name.startswith(("applied-", "_", "."))
    ] if Path(state, _TOMBSTONES_DIR).exists() else []
    assert not live_tombs, "fold should have retired the applied tombstone"
    with pytest.raises(ValueError, match="re-ingests retracted"):
        admit_batch_events(
            spark, _events_df(spark, [_doc(0, "a")]), state, out, 2
        )
    assert sorted(r.doc_id for r in live_corpus(spark, out).collect()) == [1, 2]


def test_same_batch_retract_and_reingest_raises(spark, tmp_path):
    """(retract X, ingest X) in ONE batch is reuse too — the batch's
    own tombstones are visible to its own guard. (Contrast with the
    legal same-batch (retract X, ingest near-dup-of-X), pinned by
    test_retraction_readmits_neardups_immediately.)"""
    state = str(tmp_path / "state_samebatch")
    out = str(tmp_path / "out_samebatch")
    admit_batch_events(spark, _events_df(spark, [_doc(0, "a")]), state, out, 0)
    with pytest.raises(ValueError, match="re-ingests retracted"):
        admit_batch_events(
            spark,
            _events_df(spark, [("retract", 0), _doc(0, "a")]),
            state,
            out,
            1,
        )


def test_retraction_free_stream_writes_no_tombstones(spark, tmp_path):
    """ADVICE r9: batches without retractions must not create the
    tombstone sidecar — a takedown-free stream keeps the
    tomb_dir-absent fast path (no per-probe mask join ever)."""
    state, out = _run_fold(
        spark,
        tmp_path,
        [[_unique_doc(0)], [_unique_doc(1), _unique_doc(2)]],
        subdir="_notomb",
    )
    assert not Path(state, "_TOMBSTONES").exists()
    # ADVICE r11: nor the permanent ledger — an empty retracted-b file
    # per batch would force a read+join+collect reuse-guard Spark job
    # on every later batch of a takedown-free stream
    assert not list(Path(out).glob("retracted-b*.parquet"))
    assert sorted(r.doc_id for r in live_corpus(spark, out).collect()) == [
        0,
        1,
        2,
    ]


def test_ann_retraction_free_stream_writes_no_tombstones(spark, tmp_path):
    """ANN twin of the fast-path preservation: a vec-only event stream
    never creates the IVF-PQ tombstone sidecar."""
    from neo4j_blue_green_arrow_etl_spark.streaming.ann_ingest import (
        stream_embedding_retract_ingest,
    )

    idx = _boot_ann(spark, tmp_path)
    src = tmp_path / "arrivals_clean"
    _stage_vec_events(
        spark, src, [("vec_id % 4 = 1", []), ("vec_id % 4 = 2", [])]
    )
    stream_embedding_retract_ingest(
        spark, str(src), idx, str(tmp_path / "ckp_clean")
    )
    assert not Path(idx, "_TOMBSTONES").exists()


def test_ann_reingest_of_retracted_id_fails_stream(spark, tmp_path):
    """ANN reuse guard: a later batch re-appending a tombstoned vec_id
    crashes the stream instead of silently masking the new codes."""
    from pyspark.sql import functions as F

    from neo4j_blue_green_arrow_etl_spark.streaming.ann_ingest import (
        stream_embedding_retract_ingest,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    victim = sorted(
        r.vec_id for r in e.filter("vec_id % 4 = 1").select("vec_id").collect()
    )[0]
    idx = _boot_ann(spark, tmp_path)
    src = tmp_path / "arrivals_reuse"
    # batch 0 ingests residue-1 (incl. victim); batch 1 retracts victim
    # AND re-appends it in the same event file
    _stage_vec_events(
        spark,
        src,
        [
            ("vec_id % 4 = 1", []),
            (f"vec_id = {victim}", [victim]),
        ],
    )
    with pytest.raises(Exception, match="re-ingests retracted"):
        stream_embedding_retract_ingest(
            spark, str(src), idx, str(tmp_path / "ckp_reuse")
        )


# --------------------------------------------------------------------------
# property: random event schedules match the brute-force liveness rule
# --------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@st.composite
def _schedules(draw):
    """(batches,) — 2-3 id-ordered batches of docs drawn from a small
    tag alphabet (dups likely) plus a random takedown schedule where
    every retraction targets a STRICTLY earlier batch's doc (the
    pipeline contract) at most once."""
    n = draw(st.integers(min_value=4, max_value=9))
    tags = draw(
        st.lists(
            st.sampled_from(["a", "b", "u"]), min_size=n, max_size=n
        )
    )
    nb = draw(st.integers(min_value=2, max_value=3))
    docs = []
    for k, tag in enumerate(tags):
        doc_id = k * 10
        ev = _unique_doc(doc_id) if tag == "u" else _doc(doc_id, tag)
        docs.append((k * nb // n, ev))
    batches = [[ev for (b, ev) in docs if b == i] for i in range(nb)]
    batches = [b for b in batches if b]
    retract_at = {}
    for b in range(1, len(batches)):
        earlier = [
            ev[1]
            for bb in range(b)
            for ev in batches[bb]
            if ev[1] not in retract_at
        ]
        chosen = draw(
            st.lists(st.sampled_from(earlier), unique=True, max_size=2)
            if earlier
            else st.just([])
        )
        for d in chosen:
            retract_at[d] = b
            batches[b].insert(0, ("retract", d))
    return batches


@settings(
    max_examples=6, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(_schedules())
def test_random_schedules_match_bruteforce(spark, tmp_path_factory, batches):
    tmp = tmp_path_factory.mktemp("retract_prop")
    state, out = _run_fold(spark, tmp, batches)
    live = sorted(
        r.doc_id for r in live_corpus(spark, out).collect()
    )
    assert live == _expected_live(batches)
