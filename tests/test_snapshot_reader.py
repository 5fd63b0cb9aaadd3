from __future__ import annotations

import contextlib
import shutil
from pathlib import Path

from pyspark.sql import functions as F
import pytest

from neo4j_blue_green_arrow_etl_spark import fixtures as FX
from neo4j_blue_green_arrow_etl_spark.sources import (
    discover_snapshots,
    normalize_edges,
    normalize_nodes,
    read_snapshot,
)
from neo4j_blue_green_arrow_etl_spark.sources.snapshot import SnapshotRef

from conftest import SF_SMOKE


def test_normalize_nodes_positional_rename_and_split(spark, sf_dir):
    raw = FX.raw_entity_nodes(spark, sf_dir)
    out = normalize_nodes(raw)
    assert out.columns == ["nodeId", "labels", "name", "acctbal", "segment"]
    rows = {r.nodeId: r.labels for r in out.collect()}
    # even custkey -> single label; odd -> two labels (comma split)
    assert rows["E2"] == ["Entity"]
    assert rows["E1"] == ["Entity", "Company"]


def test_normalize_nodes_single_label_is_one_element_array(spark, sf_dir):
    out = normalize_nodes(FX.raw_address_nodes(spark, sf_dir))
    assert out.select("labels").first()[0] == ["Address"]


def test_normalize_edges_positional_rename(spark, sf_dir):
    out = normalize_edges(FX.raw_edges(spark, sf_dir))
    assert out.columns == ["sourceNodeId", "targetNodeId", "relationshipType", "weight"]
    types = {r[0] for r in out.select("relationshipType").distinct().collect()}
    assert types == {t for t, _ in FX.EDGE_TYPES}


def test_normalize_rejects_too_few_columns(spark):
    df = spark.createDataFrame([(1,)], "a: long")
    with pytest.raises(ValueError):
        normalize_nodes(df)
    with pytest.raises(ValueError):
        normalize_edges(df.withColumn("b", df.a))


def test_discover_and_read_snapshot(spark, sf_dir, tmp_path):
    base = str(tmp_path / "data")
    FX.materialize_snapshot(spark, sf_dir, base, "customer1", 1767741427)
    # incomplete snapshot: nodes only -> must be skipped (ST4 gate)
    incomplete = Path(base) / "customer2" / "1767741500" / "nodes" / "Entity"
    incomplete.mkdir(parents=True)
    (incomplete / "part.parquet").write_bytes(b"")
    # non-integer timestamp dir -> skipped
    bogus = Path(base) / "customer3" / "not_a_ts" / "nodes"
    bogus.mkdir(parents=True)

    found = discover_snapshots(base)
    assert [(s.customer_id, s.timestamp) for s in found] == [("customer1", 1767741427)]
    assert found[0].database == "customer1-1767741427"

    nodes, edges = read_snapshot(spark, found[0])
    n_customers = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    n_suppliers = spark.read.parquet(f"{sf_dir}/supplier.parquet").count()
    assert nodes.count() == n_customers + n_suppliers
    # union-by-name: address rows have null segment, entity rows null nationkey
    assert "nationkey" in nodes.columns and "segment" in nodes.columns
    assert edges.select("relationshipType").distinct().count() == 3


def test_snapshot_ref_database_name():
    assert SnapshotRef("customer9", 123, "/x").database == "customer9-123"


def test_property_schema_evolution_across_snapshots(spark, tmp_path):
    """A newer snapshot may add property columns (the reference passes
    properties through untyped, neo4j_pq.py:56-59, so producers evolve
    freely). Both generations stay independently queryable, and the
    alias cutover changes the visible schema atomically."""
    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import (
        SnapshotRef,
        read_snapshot,
    )

    base = tmp_path / "data"
    for ts, extra in ((100, False), (200, True)):
        root = base / "acme" / str(ts)
        nodes = spark.createDataFrame(
            [(f"N{i}", "Entity", float(i)) for i in range(5)],
            ["id", "labels", "score"],
        )
        if extra:
            nodes = nodes.withColumn("region", F.lit("emea"))  # new property
        nodes.write.parquet(str(root / "nodes" / "Entity"))
        spark.createDataFrame(
            [("N0", "N1", "REL", 1.0)], ["src", "dst", "type", "w"]
        ).write.parquet(str(root / "relationships" / "REL"))

    cat = DeploymentCatalog(spark, tmp_path / "m.json")
    for ts in (100, 200):
        ref = SnapshotRef("acme", ts, str(base / "acme" / str(ts)))
        n, e = read_snapshot(spark, ref)
        cat.register_deployment("acme", ts, n, e, source_path=ref.path)

    cat.set_alias("acme", 100)
    v1 = spark.table("acme_nodes")
    assert "region" not in v1.columns
    cat.set_alias("acme", 200)  # cutover to the evolved schema
    v2 = spark.table("acme_nodes")
    assert "region" in v2.columns and v2.count() == 5


def _all_types_table():
    """One row of each Arrow type a snapshot's parquet footer can carry."""
    import datetime
    import decimal

    import pyarrow as pa

    cols = {
        "u8": pa.array([1], pa.uint8()),
        "u16": pa.array([1], pa.uint16()),
        "u32": pa.array([1], pa.uint32()),
        "u64": pa.array([1], pa.uint64()),
        "i8": pa.array([1], pa.int8()),
        "f32": pa.array([1.5], pa.float32()),
        "ts_ms": pa.array([1], pa.timestamp("ms")),
        "ts_us": pa.array([1], pa.timestamp("us")),
        "ts_ns": pa.array([1], pa.timestamp("ns")),
        "ts_utc": pa.array([1], pa.timestamp("us", "UTC")),
        "ts_paris": pa.array([1], pa.timestamp("ms", "Europe/Paris")),
        "ts_ns_utc": pa.array([1], pa.timestamp("ns", "UTC")),
        "dec": pa.array([decimal.Decimal("1.25")], pa.decimal128(12, 2)),
        "dec38": pa.array([decimal.Decimal("1.25")], pa.decimal128(38, 10)),
        "day": pa.array([datetime.date(2026, 1, 1)], pa.date32()),
        "bin": pa.array([b"\x00\x01"], pa.binary()),
        "big_bin": pa.array([b"\x02"], pa.large_binary()),
        "fixed": pa.array([b"ab"], pa.binary(2)),
        "big_str": pa.array(["x"], pa.large_string()),
        "dict": pa.array(["red"]).dictionary_encode(),
        "ints": pa.array([[1, None]], pa.list_(pa.int64())),
        "names": pa.array([["a"]], pa.large_list(pa.string())),
        "pair": pa.array([[1, 2]], pa.list_(pa.int32(), 2)),
        "point": pa.array(
            [{"x": 1.0, "tag": "p"}],
            pa.struct([("x", pa.float64()), ("tag", pa.string())]),
        ),
        "props": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int32())),
        "empty": pa.array([None], pa.null()),
    }
    return pa.table(cols)


@contextlib.contextmanager
def _conf(spark, **overrides):
    """Set session confs for a block, then put the old values back."""
    old = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_footer_schema_matches_spark_inference(spark, sf_dir, tmp_path):
    """``read_snapshot`` hands Spark each parquet table's schema from one
    footer instead of letting Spark infer it: for every test table and
    every type above, that schema must be exactly Spark's own."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import (
        _footer_schema,
        _inference_conf,
    )

    typed = tmp_path / "typed.parquet"
    pq.write_table(_all_types_table(), typed)
    paths = sorted(Path(sf_dir).glob("*.parquet")) + [typed]
    conf = _inference_conf(spark)
    for path in paths:
        want = spark.read.parquet(str(path)).schema
        assert _footer_schema(str(path), conf) == want, path.name

    # the session settings Spark's inference reads are honoured
    with _conf(
        spark,
        **{
            "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
            "spark.sql.parquet.binaryAsString": "true",
        },
    ):
        conf = _inference_conf(spark)
        want = spark.read.parquet(str(typed)).schema
        assert _footer_schema(str(typed), conf) == want

    # Spark reads legacy INT96 timestamps as TIMESTAMP whatever the Arrow
    # type says, and merges footers when asked: both are left to Spark
    int96 = tmp_path / "int96.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([1], pa.timestamp("ns"))}),
        int96,
        use_deprecated_int96_timestamps=True,
    )
    assert _footer_schema(str(int96), _inference_conf(spark)) is None
    with _conf(spark, **{"spark.sql.parquet.mergeSchema": "true"}):
        assert _footer_schema(str(typed), _inference_conf(spark)) is None


def test_read_snapshot_matches_inferred_read(spark, sf_dir, tmp_path):
    """On the positional fixture snapshot, the footer-schema read returns
    the same schema and rows as reading every dir with Spark's own
    schema inference."""
    import functools

    base = str(tmp_path / "data")
    FX.materialize_snapshot(spark, sf_dir, base, "acme", 100)
    root = Path(base, "acme", "100")
    nodes, edges = read_snapshot(spark, SnapshotRef("acme", 100, str(root)))

    def inferred(side, normalize):
        frames = [
            normalize(spark.read.parquet(str(d)))
            for d in sorted((root / side).iterdir())
        ]
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    for got, want in (
        (nodes, inferred("nodes", normalize_nodes)),
        (edges, inferred("relationships", normalize_edges)),
    ):
        assert got.schema == want.schema
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def _write_small_snapshot(spark, root: Path) -> dict[str, int]:
    """A 10k-row positional snapshot in 9 files, with the ``_SUCCESS``
    marker and ``.crc`` checksums a Hadoop writer leaves beside them.
    Hadoop's local filesystem moves each part into place and writes its
    checksum, so a full read verifies real sums."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    jvm = spark._jvm
    local_fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )

    rng = np.random.default_rng(5)
    tables = {
        "nodes/Entity": pa.table(
            {
                "id": np.arange(2_250),
                "labels": ["Entity,Person"] * 2_250,
                "score": rng.random(2_250),
            }
        ),
        "nodes/Address": pa.table(
            {"id": np.arange(2_250, 3_000), "labels": ["Address"] * 750}
        ),
    }
    for rel, n in (("KNOWS", 3_000), ("OWNS", 2_500), ("LOCATED_AT", 1_500)):
        tables[f"relationships/{rel}"] = pa.table(
            {
                "src": rng.integers(0, 3_000, n),
                "dst": rng.integers(0, 3_000, n),
                "type": [rel] * n,
                "weight": rng.random(n),
            }
        )
    files = {}
    for name, table in tables.items():
        d = root / name
        d.mkdir(parents=True)
        parts = 1 if name.endswith("Address") else 2
        step = -(-table.num_rows // parts)
        for i in range(parts):
            staged = d / f".staged-{i}.parquet"
            pq.write_table(table.slice(i * step, step), staged)
            local_fs.moveFromLocalFile(
                jvm.org.apache.hadoop.fs.Path(str(staged)),
                jvm.org.apache.hadoop.fs.Path(str(d / f"part-{i:05d}.parquet")),
            )
        (d / "_SUCCESS").write_bytes(b"")
        files[name] = parts
    return files


def test_small_snapshot_reads_as_one_partition_per_side(spark, tmp_path):
    """A snapshot smaller than ``spark.sql.files.openCostInBytes`` per
    side reads as one partition per side; with the open cost lowered the
    same snapshot keeps Spark's own splits (at least one per file), so
    the rule follows the session conf and never merges large inputs.
    Hidden files beside the data change neither the listing nor the
    schema."""
    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import (
        _footer_schema,
        _inference_conf,
        _list_table,
    )

    root = tmp_path / "acme" / "100"
    files = _write_small_snapshot(spark, root)
    ref = SnapshotRef("acme", 100, str(root))

    nodes, edges = read_snapshot(spark, ref)
    assert nodes.rdd.getNumPartitions() == 1
    assert edges.rdd.getNumPartitions() == 1
    assert nodes.count() == 3_000 and edges.count() == 7_000

    with _conf(spark, **{"spark.sql.files.openCostInBytes": "1"}):
        nodes, edges = read_snapshot(spark, ref)
        for side, df in (("nodes", nodes), ("relationships", edges)):
            dirs = sorted((root / side).iterdir())
            splits = sum(spark.read.parquet(str(d)).rdd.getNumPartitions() for d in dirs)
            assert df.rdd.getNumPartitions() == splits
            assert splits >= sum(files[f"{side}/{d.name}"] for d in dirs)

    entity = root / "nodes" / "Entity"
    assert (entity / ".part-00000.parquet.crc").is_file()
    data, nbytes = _list_table(entity)
    parts = sorted(str(p) for p in entity.glob("part-*.parquet"))
    assert data == parts
    assert nbytes == sum(Path(p).stat().st_size for p in parts)
    schema = _footer_schema(data[0], _inference_conf(spark))
    assert schema == spark.read.parquet(str(entity)).schema


def _hide_under(sub: str):
    """Move a table dir's data files into ``sub`` inside it, where an
    in-flight writer keeps them until it publishes."""

    def move(table_dir: Path) -> None:
        (table_dir / sub).mkdir(parents=True)
        for part in table_dir.glob("part-*"):
            part.rename(table_dir / sub / part.name)

    return move


def _drop_parts(table_dir: Path) -> None:
    for part in table_dir.glob("part-*"):
        part.unlink()


def _truncate_parts(table_dir: Path) -> None:
    for part in table_dir.glob("part-*"):
        part.write_bytes(b"")


_UNPUBLISHED = {
    "temporary_only": ("nodes/Entity", _hide_under("_temporary/0")),
    "staging_only": ("nodes/Entity", _hide_under(".staging")),
    "success_marker_only": ("nodes/Entity", _drop_parts),
    "zero_byte_part": ("nodes/Entity", _truncate_parts),
    "empty_label_dir_beside_full_one": ("nodes/Address", _drop_parts),
    "relationships_missing": ("relationships", shutil.rmtree),
}


@pytest.mark.parametrize("case", ["published", *_UNPUBLISHED])
def test_discovery_admits_only_what_the_reader_lists(spark, tmp_path, case):
    """Discovery and ``read_snapshot`` agree on which files exist: a
    snapshot is discovered only when every label/type dir lists a
    non-empty data file, so a tree still being written (files under
    ``_temporary/`` or ``.staging/``, a bare ``_SUCCESS``, a zero-byte
    part, an empty label dir, no relationships yet) is never promoted
    to a load the reader would fail."""
    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import _list_table

    root = tmp_path / "acme" / "100"
    _write_small_snapshot(spark, root)
    if case != "published":
        where, unpublish = _UNPUBLISHED[case]
        unpublish(root / where)
        assert discover_snapshots(tmp_path) == []
        return
    assert discover_snapshots(tmp_path) == [SnapshotRef("acme", 100, str(root))]
    for table_dir in root.glob("*/*"):
        assert _list_table(table_dir)[0], table_dir
    nodes, edges = read_snapshot(spark, SnapshotRef("acme", 100, str(root)))
    assert nodes.count() == 3_000 and edges.count() == 7_000


def test_stray_non_parquet_file_fails_the_load(spark, tmp_path, monkeypatch):
    """A snapshot is Parquet only (reference neo4j_pq.py:275). A stray
    file beside the parts fails the read loudly, whether it sorts before
    them (``notes.csv``) or after them (``zz-notes.csv``), so a Flight
    load of the snapshot fails before it sends ``CREATE_DATABASE``: it
    registers nothing and leaves no graph on the server."""
    from neo4j_blue_green_arrow_etl_spark.plans.catalog import DeploymentCatalog
    from neo4j_blue_green_arrow_etl_spark.sinks.flight_server import (
        InMemoryGraphFlightServer,
    )
    from neo4j_blue_green_arrow_etl_spark.sinks.graph_sink import (
        FlightGraphSink,
        flight_load_fn,
    )

    root = tmp_path / "acme" / "100"
    _write_small_snapshot(spark, root)
    ref = SnapshotRef("acme", 100, str(root))
    created = []
    real_create = FlightGraphSink._create

    def create(self):
        created.append(self.database)
        return real_create(self)

    monkeypatch.setattr(FlightGraphSink, "_create", create)
    server = InMemoryGraphFlightServer()
    try:
        catalog = DeploymentCatalog(spark, tmp_path / "catalog.json")
        for stray in ("notes.csv", "zz-notes.csv"):
            path = root / "nodes" / "Entity" / stray
            path.write_text("id,labels\nE0,Entity\n")
            with pytest.raises(ValueError, match="(?i)parquet"):
                read_snapshot(spark, ref)
            with pytest.raises(ValueError, match="(?i)parquet"):
                flight_load_fn("127.0.0.1", server.port)(spark, ref, catalog)
            path.unlink()
        assert created == []
        assert server.graphs == {}
        assert not catalog.database_exists("acme-100")
    finally:
        server.shutdown()


@pytest.mark.parametrize("emptied", ["relationships", "relationships/KNOWS"])
def test_reader_names_the_dir_that_lists_no_data(spark, tmp_path, emptied):
    """The CLI ``load`` command and a restarted catalog read a tree
    without the discovery gate. A side with no type dir, or a type dir
    with no data file, fails with one ``ValueError`` that names that
    dir."""
    import re

    root = tmp_path / "acme" / "100"
    _write_small_snapshot(spark, root)
    target = root / emptied
    shutil.rmtree(target)
    target.mkdir()
    with pytest.raises(ValueError, match=re.escape(f"{target} ")):
        read_snapshot(spark, SnapshotRef("acme", 100, str(root)))


def test_the_file_list_is_fixed_when_the_frame_is_built(spark, tmp_path):
    """Spark lists each table dir once, when ``read_snapshot`` builds the
    frame, and every later job reads that list: the unpinned side's
    ``inputFiles()`` are exactly what ``_list_table`` lists, and a part
    that lands after the read is not counted by the load's first job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import (
        _inference_conf,
        _list_table,
        _read_side,
    )

    root = tmp_path / "acme" / "100"
    _write_small_snapshot(spark, root)
    side, _ = _read_side(spark, root / "nodes", normalize_nodes, _inference_conf(spark))
    listed = [f for d in (root / "nodes").iterdir() for f in _list_table(d)[0]]
    assert sorted(f.removeprefix("file://") for f in side.inputFiles()) == sorted(listed)

    ref = SnapshotRef("acme", 100, str(root))
    nodes, _ = read_snapshot(spark, ref)
    landed = pa.table({"id": [9_000], "labels": ["Entity"], "score": [0.5]})
    pq.write_table(landed, root / "nodes" / "Entity" / "part-00002.parquet")
    assert nodes.count() == 3_000
    assert read_snapshot(spark, ref)[0].count() == 3_001


def _write_tables(root: Path, tables) -> None:
    """Write each ``{side}/{dir}`` table of ``tables`` as one part file;
    a list of tables becomes one part each."""
    import pyarrow.parquet as pq

    for name, parts in tables.items():
        d = root / name
        d.mkdir(parents=True)
        for i, table in enumerate(parts if isinstance(parts, list) else [parts]):
            pq.write_table(table, d / f"part-{i:05d}.parquet")


def _with_positional_columns(table):
    """``table``'s columns as the properties of a node table and of an
    edge table."""
    import pyarrow as pa

    n = table.num_rows
    nodes = pa.table(
        [pa.array([f"N{i}" for i in range(n)]), pa.array(["Entity,Test"] * n), *table.columns],
        names=["id", "labels", *table.column_names],
    )
    edges = pa.table(
        [pa.array(range(n)), pa.array(range(1, n + 1)), pa.array(["REL"] * n), *table.columns],
        names=["src", "dst", "type", *table.column_names],
    )
    return {"nodes/Entity": nodes, "relationships/REL": edges}


def _assert_arrow_path_matches_spark_path(spark, root: Path, monkeypatch) -> None:
    """``read_snapshot`` reads ``root`` on the driver (no Spark Parquet
    scan), and each side equals ``_read_side``, the Spark path, in schema
    and in sorted rows."""
    from conftest import spy_parquet_reads

    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import (
        _inference_conf,
        _read_side,
    )

    reads = spy_parquet_reads(monkeypatch)
    sides = read_snapshot(spark, SnapshotRef("acme", 100, str(root)))
    assert reads == []
    conf = _inference_conf(spark)
    for got, (side, normalize) in zip(
        sides, (("nodes", normalize_nodes), ("relationships", normalize_edges))
    ):
        want, _ = _read_side(spark, root / side, normalize, conf)
        assert got.schema == want.schema, side
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


_FIXTURE_TABLES = sorted(p.stem for p in Path(SF_SMOKE).glob("*.parquet"))


@pytest.mark.parametrize("name", _FIXTURE_TABLES)
def test_arrow_path_matches_spark_path_on_fixture_tables(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    """Every fixture table, as the property columns of a node table and
    of an edge table, reads the same with pyarrow on the driver as
    through Spark's Parquet scan."""
    import pyarrow.parquet as pq

    root = tmp_path / "acme" / "100"
    _write_tables(root, _with_positional_columns(pq.read_table(f"{sf_dir}/{name}.parquet")))
    _assert_arrow_path_matches_spark_path(spark, root, monkeypatch)


# session settings Spark's Parquet reader honours, by test id
_CONF_VARIANTS = {
    "default": {},
    "ntz_off_binary_as_string": {
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.parquet.binaryAsString": "true",
    },
    "new_york_session_zone": {"spark.sql.session.timeZone": "America/New_York"},
    "ntz_off_new_york": {
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.session.timeZone": "America/New_York",
    },
}


@pytest.mark.parametrize("overrides", _CONF_VARIANTS.values(), ids=_CONF_VARIANTS.keys())
def test_arrow_path_matches_spark_path_on_all_types(spark, tmp_path, monkeypatch, overrides):
    """Each Arrow type a footer can carry reads the same on both paths,
    under the session settings Spark's Parquet reader honours."""
    root = tmp_path / "acme" / "100"
    _write_tables(root, _with_positional_columns(_all_types_table()))
    with _conf(spark, **overrides):
        _assert_arrow_path_matches_spark_path(spark, root, monkeypatch)


def _assert_streamed_table_is_to_arrow(spark, root: Path) -> None:
    """Each side ``read_snapshot`` reads on the driver hands the sink an
    Arrow table equal to the side's own ``toArrow()``: the same schema
    (names, types, nullability) and the same rows in the same order."""
    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import take_table

    for side in read_snapshot(spark, SnapshotRef("acme", 100, str(root))):
        streamed, want = take_table(side), side.toArrow()
        assert streamed is not None
        assert streamed.schema.equals(want.schema, check_metadata=True)
        assert streamed.equals(want)


@pytest.mark.parametrize("name", _FIXTURE_TABLES)
def test_streamed_table_is_to_arrow_on_fixture_tables(spark, sf_dir, tmp_path, name):
    import pyarrow.parquet as pq

    root = tmp_path / "acme" / "100"
    _write_tables(root, _with_positional_columns(pq.read_table(f"{sf_dir}/{name}.parquet")))
    _assert_streamed_table_is_to_arrow(spark, root)


@pytest.mark.parametrize("overrides", _CONF_VARIANTS.values(), ids=_CONF_VARIANTS.keys())
def test_streamed_table_is_to_arrow_on_all_types(spark, tmp_path, overrides):
    root = tmp_path / "acme" / "100"
    _write_tables(root, _with_positional_columns(_all_types_table()))
    with _conf(spark, **overrides):
        _assert_streamed_table_is_to_arrow(spark, root)


def test_arrow_path_matches_spark_path_on_property_evolution(spark, tmp_path, monkeypatch):
    """Label dirs whose property columns differ are unioned by name with
    nulls for a missing column, a dir of two parts reads as one table,
    and label strings Spark's ``split`` treats specially (empty, doubled
    and trailing commas, null) split the same on both paths."""
    import pyarrow as pa

    root = tmp_path / "acme" / "100"
    entity = pa.table(
        {
            "id": ["E0", "E1", "E2", "E3"],
            "labels": ["Entity,Person", "Entity,,X", "Entity,", ""],
            "score": [0.5, 1.5, None, 2.0],
            "region": ["emea", None, "apac", "amer"],
        }
    )
    address = pa.table({"id": ["A0", "A1"], "labels": [None, "Address"], "score": [1.0, 2.0]})
    _write_tables(
        root,
        {
            "nodes/Address": [address.slice(0, 1), address.slice(1)],
            "nodes/Entity": entity,
            "relationships/KNOWS": pa.table(
                {"src": ["E0"], "dst": ["E1"], "type": ["KNOWS"], "weight": [1.0]}
            ),
            "relationships/OWNS": pa.table(
                {"src": ["E1"], "dst": ["A1"], "type": ["OWNS"], "since": [2020]}
            ),
        },
    )
    _assert_arrow_path_matches_spark_path(spark, root, monkeypatch)
    nodes, edges = read_snapshot(spark, SnapshotRef("acme", 100, str(root)))
    assert nodes.columns == ["nodeId", "labels", "score", "region"]
    assert edges.columns == ["sourceNodeId", "targetNodeId", "relationshipType", "weight", "since"]


def _clash_types(root: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = root / "nodes" / "Address" / "part-00000.parquet"
    pq.write_table(pa.table({"id": ["A0"], "labels": ["Address"], "score": pa.array([7], pa.int32())}), part)


def _move_below_key_value_dir(root: Path) -> None:
    _hide_under("region=emea")(root / "nodes" / "Entity")


def _write_int96(root: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = root / "nodes" / "Legacy"
    d.mkdir()
    table = pa.table({"id": ["L0"], "labels": ["Legacy"], "ts": pa.array([1], pa.timestamp("ns"))})
    pq.write_table(table, d / "part-00000.parquet", use_deprecated_int96_timestamps=True)


def _write_non_utf8_bytes(root: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = root / "nodes" / "Blob"
    d.mkdir()
    table = pa.table({"id": ["B0"], "labels": ["Blob"], "raw": pa.array([b"\xff\xfe"])})
    pq.write_table(table, d / "part-00000.parquet")


_SPARK_PATH = {
    "type_clash_across_label_dirs": (_clash_types, {}),
    "key_value_subdir": (_move_below_key_value_dir, {}),
    "int96_timestamps": (_write_int96, {}),
    "non_utf8_binary_as_string": (
        _write_non_utf8_bytes,
        {"spark.sql.parquet.binaryAsString": "true"},
    ),
    "side_above_one_split": (lambda root: None, {"spark.sql.files.openCostInBytes": "1"}),
}


@pytest.mark.parametrize("case", list(_SPARK_PATH))
def test_reads_the_arrow_path_cannot_match_take_the_spark_path(
    spark, tmp_path, monkeypatch, case
):
    """A node side the driver read could not give exactly as Spark does
    is read by a Spark Parquet scan, with Spark's semantics: two label
    dirs whose ``score`` types differ (Spark widens int to bigint), a
    part below a ``key=value`` dir (Spark adds it as a column), INT96
    timestamps, bytes that are not UTF-8 read as strings
    (``binaryAsString``), and a side above one ``openCostInBytes``
    split."""
    import pyarrow as pa

    from conftest import spy_parquet_reads

    from neo4j_blue_green_arrow_etl_spark.sources.snapshot import T

    root = tmp_path / "acme" / "100"
    _write_tables(
        root,
        {
            "nodes/Address": pa.table({"id": ["A0"], "labels": ["Address"], "score": [1]}),
            "nodes/Entity": pa.table({"id": ["E0", "E1"], "labels": ["Entity"] * 2, "score": [2, 3]}),
            "relationships/REL": pa.table({"src": ["E0"], "dst": ["A0"], "type": ["REL"]}),
        },
    )
    change, overrides = _SPARK_PATH[case]
    change(root)
    reads = spy_parquet_reads(monkeypatch)
    with _conf(spark, **overrides):
        nodes, _ = read_snapshot(spark, SnapshotRef("acme", 100, str(root)))
        assert any("/nodes/" in path for path in reads), reads
        assert nodes.count() == 3 + (case in ("int96_timestamps", "non_utf8_binary_as_string"))
    types = {f.name: f.dataType for f in nodes.schema}
    if case == "type_clash_across_label_dirs":
        assert types["score"] == T.LongType()
    if case == "key_value_subdir":
        assert types["region"] == T.StringType()
    if case == "int96_timestamps":
        assert types["ts"] == T.TimestampType()
    if case == "non_utf8_binary_as_string":
        assert types["raw"] == T.StringType()
