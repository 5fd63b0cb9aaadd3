"""Streaming near-dup admission with IN-STREAM RETRACTIONS: the live
feed carries two event kinds — ``doc`` (ingest a document) and
``retract`` (take down an already-ingested document) — and each
micro-batch applies its retractions BEFORE its admissions, exactly
once. This is the streaming half of the index delete lifecycle
(operators/dedup_index.delete_from_index added the at-rest half in r9
task 2): a 100 TB crawl pipeline receives takedowns continuously, and
a retracted document must stop matching new arrivals IMMEDIATELY —
not at the next batch rebuild.

Semantics (deterministic, SQL-expressible — the q_st8_retract oracle):

- Events arrive in micro-batches; within a batch, retractions apply
  first (a takedown in batch k masks its target for every probe from
  batch k onward), then docs admit under neardup_ingest's rule: doc d
  is admitted iff NO earlier-ordered doc e — (batch(e), e.doc_id) <
  (batch(d), d.doc_id) — that is STILL LIVE at batch(d) has
  Jaccard(d, e) >= threshold. "Still live" = not retracted by any
  batch <= batch(d).
- Prior admissions STAND (no retro-reprocessing of sealed admitted
  files); the takedown is applied to the CORPUS at read time instead:
  ``live_corpus`` = admitted ids minus every retracted id. So a
  takedown has exactly two effects, both immediate: new near-dups of
  the retracted doc get admitted again, and the doc leaves the corpus.

EXACTLY-ONCE: retraction tombstones write to a FLAT batch-tagged file
(``_TOMBSTONES/batch-<id>.parquet`` — delete_from_index(batch_tag=...),
atomic temp+rename), so a replayed batch atomically REPLACES the
same file; admissions and state writes reuse
neardup_ingest.admit_batch's idempotent scheme unchanged. A crash in
ANY window — after the tombstone write, after the admitted file,
after the state partition, or between them in any order — replays to
byte-identical outputs because every write is an idempotent overwrite
keyed by batch_id and the state read filter (batch_id < current)
hides the partial attempt (tests/test_retract_ingest.py pins the
windows). Batches with no retractions write NO tombstone file: a
retraction-free stream keeps the index's tomb_dir-absent fast path,
and a replayed batch derives the same empty set, so the skip is
replay-safe.

Contract (ENFORCED): doc_ids are never reused, so a retraction is
permanent. Re-ingesting a retracted id raises ValueError in
admit_batch_events BEFORE any admission/state write — the mask would
otherwise silently hide the new doc's state postings (it would never
match future arrivals). The check runs against the SEALED retract
ledger (union the index's tombstone sidecar), so it keeps enforcing
after compact_index retires applied tombstones from the sidecar —
permanence is checked against the record with permanent lifetime
(ADVICE r10). The failed batch is replay-safe: its tombstone/ledger
writes are idempotent batch-keyed replacements and the raise precedes
every other write, so a retried batch fails identically until the
offending events are repaired upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup_index import (
    _tombstones,
    delete_from_index,
    ensure_index_table,
)
from .neardup_ingest import DOCS_STREAM_COLS, admit_batch, admitted_ids

EVENTS_STREAM_COLS = ("kind", "doc_id", "text")


def admit_batch_events(
    spark: SparkSession,
    batch_events: DataFrame,
    state_dir: str,
    out_dir: str,
    batch_id: int,
    batch_post: DataFrame | None = None,
    batch_ids: DataFrame | None = None,
) -> None:
    """One exactly-once micro-batch of MIXED events: tombstone the
    batch's ``retract`` targets first (flat batch-tagged file — a
    replay atomically replaces, never duplicates; skipped entirely
    when the batch has no retractions so a takedown-free stream keeps
    the no-delete fast path), then FAIL LOUDLY if any of the batch's
    ``doc`` rows re-ingests a tombstoned id (the enforced contract —
    see the module docstring), then run the plain admission pipeline
    on the batch's ``doc`` rows. The tombstone write is SEQUENCED
    before admit_batch on purpose: the admission probe's state mask
    reads the tombstone sidecar at plan time, so this batch's
    takedowns are already visible to this batch's own probe — a
    same-batch (retract X, ingest near-dup-of-X) pair admits the new
    doc, while a same-batch (retract X, ingest X) pair raises. The
    tombstone write is a non-partitioned path write, so it composes
    with admit_batch's concurrent-sink constraint
    (neardup_ingest.admit_batch) without touching it.

    ``batch_post``: precomputed (doc_id, shingle, n) for exactly this
    batch's ``doc`` rows — the same availableNow catch-up parallelism
    hook admit_batch exposes (postings are stateless; only the probe
    needs prior state).

    The retract ids land in TWO places, for two different lifetimes:
    the index's tombstone sidecar (the probe MASK — retirable: once a
    fold physically applies a tombstone, compact_index drops it so the
    mask's broadcast set stays bounded) and a sealed
    ``retracted-b<id>.parquet`` LEDGER file next to the admitted files
    (the permanent corpus record live_corpus subtracts — admitted
    files are sealed and still contain retracted ids, so the record of
    takedowns must outlive the mask). Both writes are idempotent
    batch-keyed replacements."""
    # ensure FIRST: a batch-0 tombstone write would otherwise create
    # the state dir before ensure_index_table sees it, losing the
    # brand-new-dir fast path (no RECOVER/REFRESH catalog jobs)
    ensure_index_table(spark, state_dir)
    retract_ids = [
        r[0]
        for r in batch_events.filter(F.col("kind") == "retract")
        .select(F.col("doc_id").cast("long"))
        .collect()
    ]
    if retract_ids:
        # skipped when empty (ADVICE r9): an unconditional write would
        # create _TOMBSTONES at batch 0 of a takedown-free stream and
        # permanently defeat the tomb_dir-absent fast path. Replay-safe:
        # a replayed batch derives the same empty set and skips again.
        delete_from_index(spark, state_dir, retract_ids, batch_tag=batch_id)
        # the ledger write is skipped for the same reason (ADVICE r11):
        # an unconditional zero-row retracted-b<id> file makes
        # _retract_ledger_ids non-None from batch 1 onward, so even a
        # takedown-free stream pays a read+join+collect reuse-guard job
        # per batch. live_corpus and the guard both tolerate absent
        # files, and a replayed batch derives the same empty set.
        _write_retract_ledger(out_dir, batch_id, retract_ids)
    docs = batch_events.filter(F.col("kind") == "doc").select(
        *DOCS_STREAM_COLS
    )
    # ENFORCED CONTRACT: doc_ids are never reused, so a doc row whose
    # id was retracted (by this batch or any earlier one) is an
    # upstream bug — the mask would silently hide its state postings
    # forever. The check consults the PERMANENT retract ledger, not
    # just the index's tombstone sidecar (ADVICE r10: the sidecar is a
    # masking artifact compact_index RETIRES once a fold physically
    # applies it, so a sidecar-only check stops enforcing after the
    # first fold — "retraction is permanent" must be checked against
    # the record with the same lifetime). The sidecar is unioned in
    # for belt-and-braces (an at-rest delete_from_index caller could
    # tombstone outside this pipeline's ledger). Fail before any
    # admission/state write; one broadcast-sized semi-join probe.
    retracted = _retract_ledger_ids(spark, out_dir)
    tomb = _tombstones(spark, state_dir)
    if tomb is not None:
        tomb = tomb.select(F.col("doc_id").cast("long"))
        retracted = (
            tomb if retracted is None else retracted.unionByName(tomb)
        )
    if retracted is not None:
        # the guard probe reads the precomputed id frame when staged
        # (r12: same redundant-scan-per-batch argument as admit_batch's
        # batch_ids) — else the batch's doc rows
        probe_ids = (
            batch_ids
            if batch_ids is not None
            else docs.select(F.col("doc_id").cast("long"))
        )
        reused = [
            r[0]
            for r in probe_ids.select(F.col("doc_id").cast("long"))
            .join(F.broadcast(retracted), "doc_id", "left_semi")
            .limit(20)
            .collect()
        ]
        if reused:
            raise ValueError(
                f"batch {batch_id} re-ingests retracted doc_ids "
                f"{sorted(reused)} (first 20 shown): doc_ids are never "
                "reused — a tombstoned id's postings would be silently "
                "masked. Repair the upstream feed; the batch is "
                "replay-safe (no admission/state write has happened)."
            )
    admit_batch(
        spark,
        docs,
        state_dir,
        out_dir,
        batch_id,
        batch_post=batch_post,
        batch_ids=batch_ids,
    )


def _retract_ledger_ids(
    spark: SparkSession, out_dir: str
) -> DataFrame | None:
    """Every doc_id in the sealed permanent retract ledger
    (``retracted-b*.parquet``), or None when no ledger file exists
    yet."""
    from pathlib import Path as _P

    ledgers = sorted(_P(out_dir).glob("retracted-b*.parquet"))
    if not ledgers:
        return None
    return spark.read.schema("doc_id BIGINT").parquet(
        *[str(p) for p in ledgers]
    )


def _write_retract_ledger(
    out_dir: str, batch_id: int, retract_ids: list[int]
) -> None:
    """Seal this batch's takedown ids as ``retracted-b<id>.parquet`` —
    driver-side pyarrow, atomic tmp+rename, replay replaces (same
    write discipline as the tombstone sidecar)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pathlib import Path as _P

    out = _P(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    table = pa.table(
        {"doc_id": pa.array(sorted(retract_ids), type=pa.int64())}
    )
    tmp = out / f".tmp-{uuid.uuid4().hex}.parquet"
    pq.write_table(table, tmp)
    tmp.rename(out / f"retracted-b{batch_id}.parquet")


def live_corpus(spark: SparkSession, out_dir: str) -> DataFrame:
    """The corpus a downstream consumer reads: every admitted doc_id
    minus every retracted one. Admitted files are sealed (exactly-once,
    never rewritten), so the takedown applies as a broadcast anti-join
    against the PERMANENT retraction ledger (retracted-b*.parquet,
    sealed per batch) — NOT the index's tombstone sidecar, which is a
    masking artifact the compaction fold retires once a tombstone is
    physically applied."""
    admitted = admitted_ids(spark, out_dir).select("doc_id")
    retracted = _retract_ledger_ids(spark, out_dir)
    if retracted is None:
        return admitted
    return admitted.join(F.broadcast(retracted), "doc_id", "left_anti")
