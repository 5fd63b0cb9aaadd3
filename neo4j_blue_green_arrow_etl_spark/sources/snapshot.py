"""Snapshot source: directory-partitioned property-graph Parquet.

Data model (reference README.md:179-216):

    data/{customer_id}/{timestamp}/
      nodes/{Label}/*.parquet
      relationships/{REL_TYPE}/*.parquet

Column meaning is POSITIONAL at the boundary (reference
neo4j_pq.py:70-81 for nodes, :93-103 for edges); this module is the one
place that converts the positional contract into a declared named
schema, after which everything downstream is schema-first.

Two read paths, one result. A small snapshot is read as the reference
reads it: on one host, with pyarrow (neo4j_pq.py:275-303). Each side of
at most one ``spark.sql.files.openCostInBytes`` split (4 MB by default)
is read on the driver with ``pq.read_table``, renamed and label-split in
Arrow (``pc.split_pattern``), unioned, and handed to Spark as in-memory
rows. Any other side is a Spark Parquet scan whose normalizations are
pure Catalyst expressions (rename + ``F.split``) fused into the scan by
whole-stage codegen, so large inputs keep Spark's splits and never pass
through the driver. Both give the same schema and rows (pinned by the
parity tests in tests/test_snapshot_reader.py); a side the Arrow read
cannot match exactly takes the Spark path (see ``_arrow_side``).

Every data file a label/type dir lists is read as Parquet, as the
reference opens each dir with ``pq.ParquetDataset`` (neo4j_pq.py:275).
The listing (``_list_table``) checks the ``PAR1`` magic at both ends of
each file, so discovery never admits a snapshot holding any other file,
or a part written in place whose footer is not there yet, and
``read_snapshot`` raises on one before a sink sees the snapshot. The
files are listed when ``read_snapshot`` builds the frame: the driver
path reads what ``_list_side`` lists there, and a Spark scan lists each
table dir once more as it builds the frame (``DataFrame.inputFiles()``
returns that list without a job), so a file landing after
``read_snapshot`` returns is not read.

Fixed cost per load: ``read_snapshot`` runs no Spark job, and on the
driver path no Parquet scan either, so Catalyst plans and compiles no
scan, split or union per load. A driver-path side also keeps the Arrow
table it was built from until a sink takes it (``take_table``): the
Flight sink streams that table, so a small load runs no Spark job at
all. A table's schema comes from one file's footer, mapped to the
types Spark's own inference would give (``_footer_schema``); both
paths use it, and the Spark path so skips its schema-inference job per
dir. A Spark-path side is coalesced to
``ceil(bytes / spark.sql.files.openCostInBytes)`` partitions: Spark's
rule that a split smaller than the cost of opening a file is not worth
a task, applied across a snapshot's many small files. ``coalesce``
never adds partitions, so large snapshots keep Spark's own splits.

Pinned sides: ``read_snapshot`` returns each side as
``localCheckpoint(eager=False)``. The first job over a side computes it
once and keeps the rows in the block manager; every later read runs
over those rows. For a Spark-path side that job is the load's Flight
put (or the first read of a deployment loaded without a sink), and it
reads the files. A driver-path side's rows are fixed inside
``read_snapshot``: the Flight sink streams the Arrow table and the
side's in-memory rows hold the same rows in the JVM, and its pin is
filled by the deployment's first read. Either way a landing file
rewritten or deleted after the load no longer changes or breaks what a
deployment serves. ``unpin`` frees a side's blocks. Limits: a read
still running over a generation whose blocks retention frees fails
(this takes two newer cutovers during one read), and a restarted
catalog re-reads ``source_path`` as it is then, without checking the
files against the first load.
"""

from __future__ import annotations

import functools
import math
import os
import weakref
from dataclasses import dataclass
from pathlib import Path
from typing import AbstractSet, Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

NODE_ID = "nodeId"
LABELS = "labels"
SOURCE_ID = "sourceNodeId"
TARGET_ID = "targetNodeId"
REL_TYPE = "relationshipType"


def normalize_nodes(df: DataFrame) -> DataFrame:
    """Positional node contract -> named schema.

    Column 0 -> ``nodeId``; column 1 -> ``labels`` as array<string> by
    splitting the comma-separated label string (reference
    neo4j_pq.py:48-51, 70-81); columns 2..n pass through unchanged.
    A single label without a comma still becomes a one-element array
    (``F.split`` handles both, replacing the reference's scalar-vs-list
    branch at neo4j_pq.py:49-51).
    """
    cols = df.columns
    if len(cols) < 2:
        raise ValueError(f"node table needs >= 2 columns (id, labels); got {cols}")
    renamed = df.toDF(NODE_ID, LABELS, *cols[2:])
    return renamed.withColumn(LABELS, F.split(F.col(LABELS).cast("string"), ","))


def normalize_edges(df: DataFrame) -> DataFrame:
    """Positional edge contract -> named schema.

    Column 0 -> ``sourceNodeId``, column 1 -> ``targetNodeId``,
    column 2 -> ``relationshipType`` (reference neo4j_pq.py:93-103);
    columns 3..n are edge properties passed through.
    """
    cols = df.columns
    if len(cols) < 3:
        raise ValueError(f"edge table needs >= 3 columns (src, dst, type); got {cols}")
    return df.toDF(SOURCE_ID, TARGET_ID, REL_TYPE, *cols[3:])


def db_name(customer_id: str, timestamp: int) -> str:
    """Snapshot identity doubles as the database name (reference
    load_with_aliases.py:48)."""
    return f"{customer_id}-{int(timestamp)}"


@dataclass(frozen=True)
class SnapshotRef:
    """Identity of one discovered snapshot (reference orchestrator.py:42-50)."""

    customer_id: str
    timestamp: int
    path: str

    @property
    def database(self) -> str:
        return db_name(self.customer_id, self.timestamp)


_HIDDEN = ("_", ".")


def _subdirs(parent: Path) -> list[Path]:
    """The visible subdirectories of ``parent``, sorted by name."""
    with os.scandir(parent) as entries:
        names = sorted(
            e.name for e in entries if e.is_dir() and not e.name.startswith(_HIDDEN)
        )
    return [parent / name for name in names]


_MAGIC = b"PAR1"


def _is_parquet(path: str, size: int) -> bool:
    """Whether the file carries the Parquet magic at both ends. A file
    written in place has no trailing magic until its footer is written."""
    if size < len(_MAGIC):
        return False
    with open(path, "rb") as f:
        head = f.read(len(_MAGIC))
        f.seek(-len(_MAGIC), os.SEEK_END)
        return head == f.read() == _MAGIC


def _list_table(table_dir: Path) -> tuple[list[str], int]:
    """One walk of a label/type dir: its data files (sorted) and their
    total bytes. Names starting with ``_`` or ``.`` are skipped at every
    level, as Spark's own listing skips them (``_SUCCESS``, ``.crc``
    checksums, and the ``_temporary`` or ``.staging`` dirs a write in
    progress fills). Every other file must be Parquet, as the reader
    reads each one as Parquet: a file without the ``PAR1`` magic at both
    ends (a stray file, or a part whose footer is not written yet)
    raises ``ValueError`` naming it. ``read_snapshot`` reads exactly
    these files."""
    files: list[tuple[str, int]] = []
    pending = [str(table_dir)]
    while pending:
        with os.scandir(pending.pop()) as entries:
            for e in entries:
                if e.name.startswith(_HIDDEN):
                    continue
                if e.is_dir():
                    pending.append(e.path)
                    continue
                size = e.stat().st_size
                if not _is_parquet(e.path, size):
                    raise ValueError(f"snapshot file {e.path} is not Parquet")
                files.append((e.path, size))
    files.sort()
    return [path for path, _ in files], sum(size for _, size in files)


def _list_side(side_dir: Path) -> list[tuple[Path, list[str], int]]:
    """Each label/type dir under ``side_dir`` with its ``_list_table``
    listing. This is the one rule for which snapshots are complete:
    ``discover_snapshots`` admits a snapshot only when both sides list
    here, and ``read_snapshot`` reads what they list. Raises
    ``ValueError`` naming the side when it holds no table dir, the table
    dir when it lists no data file (a write still in progress), or a
    file that is not Parquet."""
    tables = []
    for table_dir in _subdirs(side_dir):
        files, nbytes = _list_table(table_dir)
        if not files:
            raise ValueError(f"snapshot table dir {table_dir} lists no data file")
        tables.append((table_dir, files, nbytes))
    if not tables:
        raise ValueError(f"snapshot side {side_dir} holds no label or type dir")
    return tables


def _complete(ts_dir: Path) -> bool:
    """True when both sides of ``ts_dir`` list (``_list_side``).
    Discovery polls while producers and cleanup run, so a dir or file
    vanishing mid-walk reads as not complete."""
    try:
        for side in ("nodes", "relationships"):
            _list_side(ts_dir / side)
    except (OSError, ValueError):
        return False
    return True


def discover_snapshots(
    base_path: str | Path, seen: AbstractSet[tuple[str, int]] = frozenset()
) -> list[SnapshotRef]:
    """Scan ``base/{customer}/{timestamp}`` for COMPLETE snapshots.

    Completeness gate (reference orchestrator.py:253-262), with the
    reader's own file listing (``_complete``); timestamp dirs must be
    integer-named (orchestrator.py:243-245). A ``(customer, timestamp)``
    in ``seen`` is skipped before its tree is walked, so a caller that
    passes what it has already taken pays for new snapshots only, not
    for every snapshot left on disk. Driver-side listing by design —
    this is control-plane metadata, not data-plane work.
    """
    base = Path(base_path)
    found: list[SnapshotRef] = []
    if not base.is_dir():
        return found
    for customer_dir in _subdirs(base):
        for ts_dir in _subdirs(customer_dir):
            try:
                ts = int(ts_dir.name)
            except ValueError:
                continue
            if (customer_dir.name, ts) not in seen and _complete(ts_dir):
                found.append(SnapshotRef(customer_dir.name, ts, str(ts_dir)))
    return found


# The session settings Spark's parquet schema inference reads.
_MERGE_SCHEMA = "spark.sql.parquet.mergeSchema"
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
_BINARY_AS_STRING = "spark.sql.parquet.binaryAsString"


def _inference_conf(spark: SparkSession) -> dict[str, bool]:
    return {
        key: spark.conf.get(key).lower() == "true"
        for key in (_MERGE_SCHEMA, _NANOS_AS_LONG, _INFER_NTZ, _BINARY_AS_STRING)
    }


_LEAF_TYPES = {
    pa.bool_(): T.BooleanType(),
    pa.int8(): T.ByteType(),
    pa.int16(): T.ShortType(),
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    # Spark widens unsigned integers to the next signed type
    pa.uint8(): T.ShortType(),
    pa.uint16(): T.IntegerType(),
    pa.uint32(): T.LongType(),
    pa.uint64(): T.DecimalType(20, 0),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(),
    pa.large_string(): T.StringType(),
    pa.date32(): T.DateType(),
    pa.null(): T.IntegerType(),  # an all-null column is INT32 in parquet
}


class _NoSparkType(Exception):
    """A parquet type Spark's reader infers differently or rejects."""


def _spark_type(t: pa.DataType, conf: dict[str, bool]) -> T.DataType:
    """The Spark type Spark's parquet reader infers for an Arrow type
    read from a footer. Every level is nullable, as in every schema
    Spark infers for a file source."""
    if pa.types.is_dictionary(t):
        return _spark_type(t.value_type, conf)
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            if conf[_NANOS_AS_LONG]:
                return T.LongType()
            raise _NoSparkType(t)  # Spark rejects it; let it say so
        if t.tz is None and conf[_INFER_NTZ]:
            return T.TimestampNTZType()
        return T.TimestampType()
    if pa.types.is_decimal(t):
        if t.precision > 38:  # Spark's widest decimal
            raise _NoSparkType(t)
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return T.StringType() if conf[_BINARY_AS_STRING] else T.BinaryType()
    if pa.types.is_fixed_size_binary(t):
        return T.BinaryType()
    if (
        pa.types.is_list(t)
        or pa.types.is_large_list(t)
        or pa.types.is_fixed_size_list(t)
    ):
        return T.ArrayType(_spark_type(t.value_type, conf))
    if pa.types.is_map(t):
        return T.MapType(
            _spark_type(t.key_type, conf), _spark_type(t.item_type, conf)
        )
    if pa.types.is_struct(t):
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type, conf)) for f in t]
        )
    if t in _LEAF_TYPES:
        return _LEAF_TYPES[t]
    raise _NoSparkType(t)


def _footer_schema(path: str, conf: dict[str, bool]) -> T.StructType | None:
    """The schema ``spark.read.parquet`` would infer for a dir whose
    first file is ``path``, read from that file's footer without a
    Spark job. None when Spark would infer it some other way (schema
    merging on, legacy INT96 timestamps) or rejects a type: the caller
    then lets Spark infer."""
    if conf[_MERGE_SCHEMA]:
        return None
    meta = pq.read_metadata(path)
    if any(
        meta.schema.column(i).physical_type == "INT96"
        for i in range(meta.num_columns)
    ):
        return None
    try:
        return T.StructType(
            [
                T.StructField(f.name, _spark_type(f.type, conf))
                for f in meta.schema.to_arrow_schema()
            ]
        )
    except _NoSparkType:
        return None


def _read_side(
    spark: SparkSession,
    tables: list[tuple[Path, list[str], int]],
    normalize: Callable[[DataFrame], DataFrame],
    conf: dict[str, bool],
) -> DataFrame:
    """The Spark path: the listed tables of one side (``_list_side``)
    each read by a Spark Parquet scan and normalized, unioned by name
    with missing property columns null-filled (the reference loads each
    dir separately and the server unions; here the engine gets ONE
    relation per side)."""
    frames = []
    for table_dir, files, _ in tables:
        schema = _footer_schema(files[0], conf)
        reader = spark.read if schema is None else spark.read.schema(schema)
        frames.append(normalize(reader.parquet(str(table_dir))))
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )


def _arrow_side(
    spark: SparkSession,
    tables: list[tuple[Path, list[str], int]],
    positional: tuple[str, ...],
    conf: dict[str, bool],
) -> tuple[DataFrame, pa.Table] | None:
    """The listed tables of one side read on the driver with pyarrow,
    normalized and unioned as ``_read_side`` gives them: the in-memory
    relation (a ``LocalRelation``) with the same schema and rows as
    ``_read_side``, and the Arrow table it is built from, whose schema
    and rows are the ones the relation's ``toArrow`` returns.
    ``positional`` names the leading columns, as the normalize
    functions do; ``labels`` among them is split on commas. None when
    the result might differ from Spark's: a file below a subdir (Spark
    reads ``key=value`` dirs as columns), a footer ``_footer_schema``
    leaves to Spark, files of one dir with differing schemas, a
    non-string label column, too few columns, column names that clash
    (Spark matches names case-insensitively) or one name with two types
    across dirs. A Parquet file damaged inside raises here."""
    fields: dict[str, T.StructField] = {}
    parts: list[pa.Table] = []
    for table_dir, files, _ in tables:
        if any(os.path.dirname(f) != str(table_dir) for f in files):
            return None
        schema = _footer_schema(files[0], conf)
        if schema is None or len(schema) < len(positional):
            return None
        read = [pq.read_table(f) for f in files]
        if any(not t.schema.equals(read[0].schema) for t in read[1:]):
            return None
        table = pa.concat_tables(read)
        names = [*positional, *schema.names[len(positional):]]
        if len({n.lower() for n in names}) < len(names):
            return None
        cols = []
        for i, (name, col, f) in enumerate(zip(names, table.columns, schema)):
            if i < len(positional) and name == LABELS:
                if f.dataType != T.StringType():
                    return None
                col = pc.split_pattern(col.cast(pa.string()), ",")
                f = T.StructField(name, T.ArrayType(T.StringType(), False))
            else:
                f = T.StructField(name, f.dataType)
            if fields.setdefault(name.lower(), f) != f:
                return None
            # the type createDataFrame sends: a zone-less timestamp Spark
            # reads as TIMESTAMP becomes UTC-zoned with its value kept, as
            # Spark's reader keeps it (left zone-less, createDataFrame
            # would shift it by the session zone)
            try:
                cols.append(col.cast(to_arrow_type(f.dataType)))
            except pa.ArrowInvalid:
                return None  # bytes that are not UTF-8, read as strings
        parts.append(pa.table(cols, names=names))
    # unionByName(allowMissingColumns=True): the first dir's columns,
    # then each later dir's new ones, missing ones null-filled
    union = T.StructType(list(fields.values()))
    arrow_schema = to_arrow_schema(
        union,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=spark._jconf.arrowUseLargeVarTypes(),
    )
    unioned = pa.concat_tables(
        pa.table(
            [
                table[f.name]
                if f.name in table.column_names
                else pa.nulls(table.num_rows, to_arrow_type(f.dataType))
                for f in union
            ],
            names=union.names,
        )
        for table in parts
    ).cast(arrow_schema)
    return spark.createDataFrame(unioned, union), unioned


# The Arrow table each driver-path side was built from, until the sink
# takes it or the catalog takes the side over. Keyed weakly by the side,
# so a side that is never loaded drops its table with it.
_TABLES: weakref.WeakKeyDictionary[DataFrame, pa.Table] = weakref.WeakKeyDictionary()


def take_table(side: DataFrame) -> pa.Table | None:
    """The Arrow table ``read_snapshot`` built ``side`` from on the
    driver, handed over once: later calls return None, and so do a
    Spark-path side and any other frame. It has the schema and rows
    ``side.toArrow()`` returns."""
    return _TABLES.pop(side, None)


def read_snapshot(spark: SparkSession, snapshot: SnapshotRef) -> tuple[DataFrame, DataFrame]:
    """Load one complete snapshot as (nodes, edges) DataFrames with the
    engine's named schema, all labels/types unioned. A side of at most
    one ``spark.sql.files.openCostInBytes`` of data is read here, on
    the driver, with pyarrow (``_arrow_side``): the files ``_list_side``
    lists, into one partition of in-memory rows, whose Arrow table a
    sink can take (``take_table``). A larger side, or one the Arrow
    read cannot match exactly, is a Spark Parquet scan with one
    partition per ``openCostInBytes``, or Spark's own splits where
    those are fewer; Spark lists its table dirs again as the frame is
    built. Either way no file landing after ``read_snapshot`` returns
    is read, and building the sides costs no Spark job. Each side is
    pinned by the first job that runs over it; ``unpin`` releases it
    (see the module docstring). A side or table dir that lists no data
    file, or a file without the Parquet magic, raises ``ValueError``
    naming it; a Parquet file damaged inside fails the read here on the
    driver path, and the footer read here or the first job on the Spark
    path."""
    conf = _inference_conf(spark)
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    root = Path(snapshot.path)

    def pinned(side: str, normalize, positional) -> DataFrame:
        tables = _list_side(root / side)
        nbytes = sum(n for _, _, n in tables)
        arrow = _arrow_side(spark, tables, positional, conf) if nbytes <= open_cost else None
        if arrow is None:
            df, table = _read_side(spark, tables, normalize, conf), None
        else:
            df, table = arrow
        parts = max(1, math.ceil(nbytes / open_cost))
        out = df.coalesce(parts).localCheckpoint(eager=False)
        if table is not None:
            _TABLES[out] = table
        return out

    return (
        pinned("nodes", normalize_nodes, (NODE_ID, LABELS)),
        pinned("relationships", normalize_edges, (SOURCE_ID, TARGET_ID, REL_TYPE)),
    )


def unpin(df: DataFrame) -> None:
    """Free the blocks of a side ``read_snapshot`` pinned, and drop the
    Arrow table it was built from; any other frame is left alone. Reads
    of the side fail afterwards."""
    _TABLES.pop(df, None)
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return
    rdd = plan.rdd()
    if rdd.isLocallyCheckpointed():
        rdd.unpersist(False)
