"""Streaming near-dup admission (streaming/neardup_ingest.py):
exactly-once admission per micro-batch, with compaction between
batches, batch replay and crash recovery.
"""

from __future__ import annotations

# --------------------------------------------------------------------------
# Streaming near-dup admission (streaming/neardup_ingest.py)
# --------------------------------------------------------------------------


def _neardup_docs(spark):
    """Deterministic corpus with known near-dup chains: doc 4k+1 and
    4k+2 duplicate doc 4k; 4k+3 is unique."""
    from pyspark.sql import functions as F

    base = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta "),
            F.when(
                F.col("id") % 4 < 3,
                F.concat(F.lit("group "), (F.col("id") / 4).cast("int").cast("string")),
            ).otherwise(F.concat(F.lit("unique text body number "), F.col("id").cast("string"))),
        ).alias("text"),
    )
    return base


def _expected_admitted(spark, docs):
    """The any-earlier rule computed the dumb way: doc admitted iff no
    earlier doc (global doc_id order here — batches are id-ordered
    ranges) has Jaccard >= threshold."""
    from pyspark.sql import functions as F

    from neo4j_blue_green_arrow_etl_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        shingles,
    )

    sh = shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    x, y = sh.alias("x"), sh.alias("y")
    common = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("y.doc_id") < F.col("x.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("d"), F.col("y.doc_id").alias("e"))
        .agg(F.count("*").alias("c"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("c") / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
    dropped = (
        common.join(sa, F.col("d") == F.col("sa.doc_id"))
        .join(sb, F.col("e") == F.col("sb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("d")
        .distinct()
    )
    return sorted(
        r.doc_id
        for r in docs.join(dropped, docs.doc_id == dropped.d, "left_anti")
        .select("doc_id")
        .collect()
    )


def test_stream_neardup_with_periodic_compaction(spark, tmp_path):
    """Folding the state table's sealed partitions between batches
    (compact_index before batch 2, through batch 1) leaves admission
    unchanged: the admissions must equal the any-earlier rule, and the
    state table must end with fewer partitions than batches."""
    from pyspark.sql import functions as F

    from neo4j_blue_green_arrow_etl_spark.operators.dedup_index import (
        compact_index,
        ensure_index_table,
    )
    from neo4j_blue_green_arrow_etl_spark.streaming.neardup_ingest import (
        admit_batch,
        admitted_ids,
    )

    docs = _neardup_docs(spark)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    for i in range(4):
        if i == 2:
            compact_index(spark, state, i - 1)
        batch = docs.filter(
            (F.col("doc_id") >= i * 10) & (F.col("doc_id") < (i + 1) * 10)
        )
        admit_batch(spark, batch, state, out, i)
    got = sorted(r.doc_id for r in admitted_ids(spark, out).collect())
    assert got == _expected_admitted(spark, docs)
    table = ensure_index_table(spark, state)
    parts = {
        r[0]
        for r in spark.table(table).select("batch_id").distinct().collect()
    }
    assert len(parts) < 4  # batches 0..1 folded into one generation
    # all postings survived the fold
    n_docs = docs.count()
    assert spark.table(table).select("doc_id").distinct().count() == n_docs


def test_stream_neardup_replay_is_idempotent(spark, tmp_path):
    """Re-running a batch with the same batchId (the crash-replay path)
    must overwrite its own files — same admissions, no duplicates."""
    from neo4j_blue_green_arrow_etl_spark.streaming.neardup_ingest import (
        admit_batch,
        admitted_ids,
    )

    docs = _neardup_docs(spark)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    b0 = docs.filter("doc_id < 10")
    b1 = docs.filter("doc_id >= 10 and doc_id < 20")
    admit_batch(spark, b0, state, out, 0)
    admit_batch(spark, b1, state, out, 1)
    first = sorted(r.doc_id for r in admitted_ids(spark, out).collect())
    # replay batch 1 (e.g. sink wrote, checkpoint commit lost)
    admit_batch(spark, b1, state, out, 1)
    second = sorted(r.doc_id for r in admitted_ids(spark, out).collect())
    assert first == second


def test_crash_between_admitted_and_state_writes_recovers(spark, tmp_path):
    """VERDICT r6 task 6: kill the batch BETWEEN its two writes
    (admitted file written, state partition not). The replay must
    re-derive the SAME admissions from the immutable prior-batch
    state — the batch_id < current read filter makes the partial
    attempt invisible — and the final corpus state must equal the
    never-crashed run's."""
    import pytest

    from neo4j_blue_green_arrow_etl_spark.operators import dedup_index
    from neo4j_blue_green_arrow_etl_spark.streaming import neardup_ingest
    from neo4j_blue_green_arrow_etl_spark.streaming.neardup_ingest import (
        admit_batch,
        admitted_ids,
    )

    docs = _neardup_docs(spark)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    b0 = docs.filter("doc_id < 10")
    b1 = docs.filter("doc_id >= 10 and doc_id < 20")
    admit_batch(spark, b0, state, out, 0)

    real_append = dedup_index.append_index_batch

    def crash_append(*a, **k):
        raise RuntimeError("injected crash between admitted and state write")

    # admit_batch resolves append_index_batch from ITS module namespace
    neardup_ingest.append_index_batch = crash_append
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            admit_batch(spark, b1, state, out, 1)
    finally:
        neardup_ingest.append_index_batch = real_append

    # admitted-b1 exists, state partition 1 does not
    assert (tmp_path / "out" / "admitted-b1.parquet").exists()
    table = dedup_index.ensure_index_table(spark, state)
    assert spark.table(table).filter("batch_id = 1").count() == 0

    crashed_partial = sorted(
        r.doc_id for r in admitted_ids(spark, out).collect()
    )
    # replay batch 1 (checkpoint never committed it)
    admit_batch(spark, b1, state, out, 1)
    after_replay = sorted(r.doc_id for r in admitted_ids(spark, out).collect())
    assert after_replay == crashed_partial  # replay changed nothing visible
    assert spark.table(table).filter("batch_id = 1").count() > 0

    # and it all equals a clean run from scratch
    state2, out2 = str(tmp_path / "state2"), str(tmp_path / "out2")
    admit_batch(spark, b0, state2, out2, 0)
    admit_batch(spark, b1, state2, out2, 1)
    clean = sorted(r.doc_id for r in admitted_ids(spark, out2).collect())
    assert after_replay == clean
    t1 = spark.table(table)
    t2 = spark.table(dedup_index.ensure_index_table(spark, state2))
    assert sorted(map(tuple, t1.collect())) == sorted(map(tuple, t2.collect()))
