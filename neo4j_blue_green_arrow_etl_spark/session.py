"""SparkSession factory.

Single place where scale-relevant knobs live. Local runs use
``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same builder options
hold (AQE, Arrow, UTC session time) and ``master`` is simply not set.

Driver JIT. By default the driver JVM starts with HotSpot's four
tier-4 (C2) compile thresholds at ten times their JDK 17 defaults
(``_C2_FLAGS``). A small snapshot's load runs no Spark job, so most of
what the JVM runs for a load or an alias read is planning code
(Catalyst rules, generated projections, task (de)serialization,
Janino) that is warm but not hot, and with the default thresholds the
C2 compiler threads took about half of the loader's set-up CPU. Row
loops (Arrow serialization, Parquet decoding, whole-stage generated
code) pass even the raised thresholds within milliseconds and still
get C2 code, so a warm multi-million-row Flight load is no slower. C1
only (``-XX:TieredStopAtLevel=1``) would cut the small path further
but makes that big load more than twice as slow, so it is not used.

The price is paid by a long session of many distinct mid-sized
queries, such as ``bench.py``'s pass over the query registry: there
the planning code does turn hot, and with the raised thresholds it
stays longer in profiled C1 code. Such entry points pass
``HOTSPOT_JIT`` in ``extra_conf`` and keep HotSpot's defaults. The
measurements are in CHANGES.md and ROADMAP.md.

The flags go in ``spark.driver.defaultJavaOptions``, which Spark
places before ``spark.driver.extraJavaOptions``, so a caller's own JVM
flags still apply (and win where they repeat a flag). Set from the
builder, they replace a ``spark.driver.defaultJavaOptions`` that a
site sets in ``spark-defaults.conf``; a site flag that must survive
goes in ``extraJavaOptions`` through ``extra_conf``. Like
``spark.driver.memory`` they take effect only when ``get_spark``
launches the JVM: a session built on a running JVM keeps that JVM's
flags. In local mode the driver JVM is also the executor; executor
JVMs on a cluster keep HotSpot's defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# HotSpot's tier-4 thresholds at 10x their JDK 17 defaults
# (5000 / 600 / 15000 / 40000); see "Driver JIT" above.
_C2_FLAGS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)

# ``extra_conf`` entry for a long session of many distinct queries: it
# launches the driver JVM with HotSpot's default thresholds.
HOTSPOT_JIT = {"spark.driver.defaultJavaOptions": ""}


def get_spark(
    app_name: str = "neo4j_blue_green_arrow_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Defaults are chosen so the same logical plans scale from local[32]
    to a 1000-executor cluster:

    - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
      and dynamic broadcast conversion replace hand-tuned partition counts.
    - Arrow on: pandas/Arrow UDF exchange is vectorized, and
      ``maxRecordsPerBatch`` mirrors the reference's 100k-row RecordBatch
      contract (reference neo4j_pq.py:120, config.yaml:22).
    - UTC session timezone: deterministic timestamp semantics vs oracles.
    - Driver JVM with raised C2 thresholds, unless ``extra_conf``
      holds ``HOTSPOT_JIT`` (module docstring).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Current testdata writes timestamp[us]; legacy trees carried
        # TIMESTAMP(NANOS), which Spark's reader rejects by default —
        # keep nanosAsLong so those still read (as ns-long, normalized
        # by operators.relational.normalize_event_ts). No-op on µs data.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", _C2_FLAGS)
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
