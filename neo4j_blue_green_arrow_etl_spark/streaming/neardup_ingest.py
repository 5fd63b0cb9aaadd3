"""Streaming near-dup admission: exactly-once ingest that admits a
document only if it is not a near-duplicate (exact shingle Jaccard >=
JACCARD_THRESHOLD) of any EARLIER document — the continuous form of
operators.dedup.q_x44_incrdedup, and the shape a 100 TB pipeline runs
on its live crawl feed.

Design (r7: state is the BUCKETED index, not per-batch parquet globs):

- The dedup STATE is operators.dedup_index's persisted postings table:
  one external parquet table under ``state_dir``, CLUSTERED BY
  (shingle) INTO N BUCKETS and partitioned by batch_id, rows
  (doc_id, shingle, n). Nothing is held on the driver; across session
  restarts the deterministic DDL re-registers the same files.
- Each micro-batch runs the co-located probe join: batch postings vs
  ``batch_id < current`` partitions of the state table. The state
  side arrives at the shingle equi-join already hash-partitioned
  (Bucketed: true — the scan is the shuffle), so per-batch SHUFFLE
  cost is O(batch postings) regardless of how much state has
  accumulated; state contributes only a linear co-located scan. The
  r6 form re-shuffled the full glob-read state every batch — the
  worst scaling datapoint of that round (exponent ~0.95 with a 57.9 s
  x16 batch); this is the fix the q_x44 docstring promised.
- EXACTLY-ONCE: admitted ids keep the batchId-in-filename overwrite
  scheme (``admitted-b<id>.parquet``); state writes go through
  append_index_batch, whose dynamic partition overwrite replaces ONLY
  the replayed batch's partition. The ``batch_id < current`` read
  filter doubles as the exclusion of this batch's own partial prior
  attempt, so a replay re-derives identical admissions from immutable
  prior partitions — including after a crash BETWEEN the admitted
  write and the state write (tests/test_stream_ingest.py pins both
  orders).

Admission rule (deterministic, SQL-expressible — the q_st6_neardup
oracle): doc d is admitted iff NO doc e with order key (batch(e),
e.doc_id) < (batch(d), d.doc_id) has Jaccard(d, e) >= threshold. Note
"any earlier doc", not "any earlier ADMITTED doc": the greedy
admitted-only variant is order-recursive (not one SQL pass) and drops
fewer docs; near-dup chains collapse to their FIRST element either
way, which is what dedup pipelines keep. State therefore indexes
EVERY seen doc's postings, admitted or dropped.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup_index import (
    append_index_batch,
    ensure_index_table,
    postings_with_sizes,
    probe_match_pairs,
)

DOCS_STREAM_COLS = ("doc_id", "text")


def dropped_doc_ids(
    batch_post: DataFrame, state_post: DataFrame
) -> DataFrame:
    """doc_ids (column ``d``) of batch docs near-dup-matched by state
    postings or by an earlier (smaller doc_id) doc of the same batch.
    Both inputs carry (doc_id, shingle, n). One aggregation for both
    match sources (probe_match_pairs), and no distinct: the only
    consumer is a left_anti join, whose semantics ignore duplicate
    keys — a distinct here is a whole extra shuffle per micro-batch
    for nothing."""
    return probe_match_pairs(batch_post, state_post).select(
        F.col("doc_new").alias("d")
    )


def admit_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    out_dir: str,
    batch_id: int,
    batch_post: DataFrame | None = None,
    batch_ids: DataFrame | None = None,
) -> None:
    """One exactly-once micro-batch: admit non-near-dup docs, write
    their doc_ids to ``out_dir`` (batchId-named file, replay
    overwrites) and this batch's postings to the bucketed state
    table's own ``batch_id`` partition (replay overwrites just that
    partition).

    ``batch_post`` (materialized (doc_id, shingle, n) for exactly
    ``batch_docs``) lets a BACKLOG driver precompute postings for
    queued batches concurrently: the postings build is stateless —
    only the PROBE needs prior batches' state — so in availableNow
    catch-up, where every queued file is already on disk, shingling
    batch k+1 while batch k's sinks run is free parallelism with
    identical per-batch semantics (q_st6_neardup does this).

    ``batch_ids`` (materialized one-column doc_id frame for exactly
    ``batch_docs``, r12): the admitted sink's anti-join otherwise
    re-evaluates ``batch_docs``' lineage per batch — for a fold whose
    batches are filters over a parquet scan that is a redundant scan
    per micro-batch (~0.5s each measured at sf0.1). Same catch-up
    precompute slot as batch_post; callers whose micro-batch frames are
    already in memory just omit it."""
    table = ensure_index_table(spark, state_dir)
    batch_docs = batch_docs.select(*DOCS_STREAM_COLS)
    if batch_post is None:
        # localCheckpoint: the postings feed three consumers (two match
        # joins + the state write); a checkpoint also cuts the
        # streaming source out of the reused plan
        batch_post = postings_with_sizes(batch_docs).localCheckpoint()
    # strictly-earlier state only: enforces arrival order AND excludes
    # this batch's own (possibly partial) prior attempt on replay —
    # partition-pruned on the full route, FILE-level filtered on the
    # bucket-pruned route (routed_state_postings applies
    # probe_dedup_index_auto's crossover policy when the state index is
    # wide enough for pruning to pay; the 32-bucket test fixtures skip
    # routing outright). Tombstoned (retracted) docs are masked out so
    # a takedown stops matching immediately, mid-stream (mask_deleted
    # is a no-op stat when no deletes exist).
    from ..operators.dedup_index import routed_state_postings

    state_post = routed_state_postings(
        spark, table, state_dir, batch_post, below_batch=batch_id
    )
    dropped = dropped_doc_ids(batch_post, state_post)
    # anti-join left side: the precomputed id frame when the caller
    # staged one (fold catch-up), else the batch frame itself — the
    # sink only emits doc_id, so the two are interchangeable (a doc
    # with no shingles appears in both and can never be dropped)
    left = batch_ids if batch_ids is not None else batch_docs
    admitted = left.join(dropped, left.doc_id == dropped.d, "left_anti")
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    # The two sinks are INDEPENDENT (both consume the checkpointed
    # postings / the already-computed dropped set, neither reads the
    # other's output), so run them as concurrent Spark jobs — the
    # micro-batch's wall clock is max(write, write) instead of the
    # sum. Crash-wise the order never mattered: a replay re-derives
    # identical admissions whether the crash left the admitted file,
    # the state partition, both, or neither (the batch_id < current
    # read filter hides a partial state partition; both writes are
    # idempotent overwrites keyed by batch_id) — the ingest tests pin
    # both single-sided outcomes.
    # CONSTRAINT (ADVICE r8): append_index_batch's _insert_dynamic
    # flips spark.sql.sources.partitionOverwriteMode SESSION-WIDE for
    # its write's duration, and both pool tasks share this session —
    # safe ONLY because the admitted write is a NON-PARTITIONED path
    # write (partitionOverwriteMode is a no-op for it). Do not add a
    # partitioned write to this pool; serialize it instead, or it
    # nondeterministically inherits dynamic-overwrite mode.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        adm = pool.submit(
            lambda: admitted.select("doc_id")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/admitted-b{batch_id}.parquet")
        )
        st = pool.submit(
            append_index_batch, spark, table, batch_post, batch_id
        )
        adm.result()
        st.result()


def admitted_ids(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every admitted doc_id on record: the union of the sealed
    per-batch ``admitted-b<id>.parquet`` files."""
    files = sorted(Path(out_dir).glob("admitted-b*.parquet"))
    return spark.read.parquet(*[str(p) for p in files])
