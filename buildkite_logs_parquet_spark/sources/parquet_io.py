"""Parquet sink/source with the reference's schema contract.

Write side (reference parquet.go:101-341): zstd compression, 7-column
schema.  The reference *declares* Parquet sorting columns (timestamp, group)
but physically writes rows in file order (parquet.go:124-127 sets metadata
only; records are appended in arrival order) — positional ops (tail/seek)
depend on that.  We therefore keep rows physically ordered by ``row_id``
and rely on row-group min/max stats on ``row_id`` for positional pruning;
``row_id`` rides along as an extra column, which the reference reader
tolerates by design (it ignores unknown columns, query.go:203-233 — its own
testdata has a legacy 8th column).

Read side: tolerant, name-based resolution (query.go:203-233):
``timestamp`` and ``content`` required; ``group`` defaults to ``""``;
booleans default to false; unknown extra columns ignored; string columns
accepted as utf8 or binary (query.go:282-291).
"""

from __future__ import annotations

import functools
import os
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from buildkite_logs_parquet_spark.operators.ingest import CANONICAL_COLUMNS

_REQUIRED = ("timestamp", "content")
_STRING_DEFAULTS = {"content": "", "group": ""}
_BOOL_COLUMNS = ("has_timestamp", "is_command", "is_group", "is_progress")


def write_entries(
    entries: DataFrame,
    path: str,
    filter_expr=None,
    single_file: bool = False,
    target_rows_per_partition: int = 4_000_000,
) -> None:
    """Write canonical entries (+ ``row_id``) as zstd Parquet.

    ``filter_expr`` mirrors the reference's filtered export
    (parquet.go:290-341): a Column predicate or SQL string applied before
    the write.  ``single_file=True`` gives byte-level parity-style output
    for small job logs.  The default range-partitions on ``row_id`` so huge
    logs write in parallel while keeping positional locality: AQE sizes and
    coalesces the range partitions (only adjacent ones merge), rows are
    sorted within each, and ``target_rows_per_partition`` caps the rows per
    output file (``maxRecordsPerFile``).  Every file therefore covers a
    contiguous ``row_id`` range of at most that many rows → row-group and
    file pruning for seek/tail.  The range exchange samples its input once;
    nothing else runs before the write.
    """
    df = entries
    if filter_expr is not None:
        df = df.where(filter_expr)
    cols = (["row_id"] if "row_id" in df.columns else []) + CANONICAL_COLUMNS
    df = df.select(*cols)
    writer_opts = {"compression": "zstd"}
    if "row_id" in df.columns:
        if single_file:
            df = df.coalesce(1).sortWithinPartitions("row_id")
        else:
            df = df.repartitionByRange("row_id").sortWithinPartitions("row_id")
            writer_opts["maxRecordsPerFile"] = str(target_rows_per_partition)
    elif single_file:
        df = df.coalesce(1)
    df.write.mode("overwrite").options(**writer_opts).parquet(path)


def _hidden(name: str) -> bool:
    """Spark's rule for the names a table read skips: ``.``-prefixed names
    (checksums) and ``_``-prefixed ones (``_SUCCESS``, ``_temporary``)
    other than ``key=value`` partition directories."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _parquet_files(path: str) -> list[str]:
    """Local data files of a Parquet table, sorted: ``path`` itself when it
    is a file, else every ``*.parquet`` below it outside hidden names
    (``_hidden``); empty when ``path`` does not exist."""
    if os.path.isfile(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        files += (
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not _hidden(f)
        )
    return sorted(files)


@functools.cache
def _footer_classes(jvm) -> SimpleNamespace:
    """The JVM classes ``_footer_schema`` calls, resolved once per gateway
    (each package step of a py4j lookup is a round trip; uncached they
    cost as much as the footer read itself)."""
    spark_pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    parquet = jvm.org.apache.parquet
    return SimpleNamespace(
        Path=jvm.org.apache.hadoop.fs.Path,
        HadoopInputFile=parquet.hadoop.util.HadoopInputFile,
        Footer=parquet.hadoop.Footer,
        SKIP_ROW_GROUPS=parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        ParquetFooterReader=spark_pq.ParquetFooterReader,
        ParquetFileFormat=spark_pq.ParquetFileFormat,
        ParquetToSparkSchemaConverter=spark_pq.ParquetToSparkSchemaConverter,
    )


def _footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """Data schema of the Parquet table at ``path`` from one footer, read
    on the driver.

    ``spark.read.parquet`` infers it with a Spark job
    (``mergeSchemasInParallel``) that reads the footer of the first data
    file.  This reads that footer in-process through the same Spark
    classes (``ParquetFooterReader`` without row groups, then
    ``readSchemaFromFooter`` with a converter built from the session
    conf), so ``nanosAsLong``/``binaryAsString`` and Spark's own row
    metadata map as inference maps them.  Partition columns are not part
    of the result; a read given this schema still discovers them.
    """
    J = _footer_classes(spark._jvm)
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    hp = J.Path(path)
    fs = hp.getFileSystem(conf)
    if not fs.exists(hp):
        raise FileNotFoundError(f"no such path: {path}")
    root = fs.makeQualified(hp).toString().rstrip("/")
    files = fs.listFiles(hp, True)
    while files.hasNext():
        st = files.next()
        rel = st.getPath().toString()[len(root):]
        if any(_hidden(part) for part in rel.split("/")):
            continue
        footer = J.ParquetFooterReader.readFooter(
            J.HadoopInputFile.fromStatus(st, conf), J.SKIP_ROW_GROUPS
        )
        schema = J.ParquetFileFormat.readSchemaFromFooter(
            J.Footer(st.getPath(), footer),
            J.ParquetToSparkSchemaConverter(state.conf()),
        )
        return T._parse_datatype_json_string(schema.json())
    raise ValueError(f"no parquet files at {path}")


def _attach_positional_row_id(df: DataFrame) -> DataFrame:
    """Synthesize ``row_id`` = physical file position for files that lack
    the column (reference-written parquet) WITHOUT a global-order window.

    Same technique as ``logs.read_log_lines``: ``monotonically_increasing_id``
    is contiguous within a scan partition, and ``_metadata.file_block_start``
    orders a file's splits by byte offset — so a metadata-sized aggregation
    of per-split (first id, count) yields exact cumulative offsets, joined
    back as a broadcast.  Part-files order lexicographically by path (the
    reference's files are single-file, where this is vacuous).  The same
    id-contiguity guard fails loudly rather than misnumber.
    """
    spark = df.sparkSession
    tagged = (
        df.withColumn("_file", F.col("_metadata.file_path"))
        .withColumn("_bstart", F.col("_metadata.file_block_start"))
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    stats = (
        tagged.groupBy("_file", "_bstart")
        .agg(
            F.min("_mid").alias("_first"),
            F.max("_mid").alias("_last"),
            F.count("*").alias("_cnt"),
        )
        .collect()
    )
    bases = []
    acc = 0
    for r in sorted(stats, key=lambda r: (r["_file"], r["_bstart"])):
        if r["_last"] - r["_first"] + 1 != r["_cnt"]:
            raise RuntimeError(
                "monotonically_increasing_id is not contiguous within a "
                f"parquet split (file={r['_file']} block_start="
                f"{r['_bstart']}) — positional row_id would be wrong"
            )
        bases.append((r["_file"], r["_bstart"], r["_first"], acc))
        acc += r["_cnt"]
    base_df = spark.createDataFrame(
        bases, "_file string, _bstart long, _first long, _base long"
    )
    return (
        tagged.join(F.broadcast(base_df), on=["_file", "_bstart"])
        .withColumn(
            "row_id", F.col("_base") + (F.col("_mid") - F.col("_first"))
        )
        .drop("_file", "_bstart", "_mid", "_first", "_base")
    )


def read_entries(
    spark: SparkSession, path: str, synthesize_row_id: bool = False
) -> DataFrame:
    """Tolerant canonical read of a Parquet entries table.

    Accepts files written by this engine *or* by the reference (including
    its legacy 8-column file).  Raises ``ValueError`` when a required
    column is missing, matching mapColumns (query.go:228-230).  With
    ``synthesize_row_id`` a file lacking ``row_id`` gets one derived from
    physical position (see ``_attach_positional_row_id``) so positional
    ops (seek/tail) work on reference-written files.

    The schema comes from one footer read on the driver
    (``_footer_schema``), so building the read starts no Spark job.
    """
    df = spark.read.schema(_footer_schema(spark, path)).parquet(path)
    present = {f.name: f.dataType for f in df.schema.fields}
    for req in _REQUIRED:
        if req not in present:
            raise ValueError(f"required column not found: {req}")
    if "row_id" not in present and synthesize_row_id:
        df = _attach_positional_row_id(df)
        present["row_id"] = T.LongType()

    def _as_string(name: str) -> F.Column:
        col = F.col(name)
        if isinstance(present[name], T.BinaryType):
            col = col.cast("string")  # query.go:282-291 accepts utf8 or binary
        return F.coalesce(col, F.lit(_STRING_DEFAULTS.get(name, "")))

    out = [F.coalesce(F.col("timestamp").cast("long"), F.lit(0)).alias("timestamp")]
    out.append(_as_string("content").alias("content"))
    out.append(
        (_as_string("group") if "group" in present else F.lit("")).alias("group")
    )
    for b in _BOOL_COLUMNS:
        # present columns are read raw (canonical files write them
        # non-nullable — both this engine and the reference), keeping
        # classification predicates eligible for parquet pushdown; a
        # coalesce wrapper here would block PushedFilters entirely
        col = F.col(b) if b in present else F.lit(False)
        out.append(col.alias(b))
    if "row_id" in present:
        out.insert(0, F.col("row_id").cast("long").alias("row_id"))
    return df.select(*out)


def write_log_lake(
    entries: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("org", "pipeline", "build"),
) -> None:
    """Multi-job lake layout: one canonical entries table partitioned by
    CI coordinates (the reference is strictly one file per job log; this is
    the 100 TB layout).

    Hive-style partition directories give Spark partition *pruning* — a
    query filtered on org/pipeline/build never touches other jobs' files —
    and each partition keeps rows in ``row_id`` order for positional ops.
    """
    missing = [c for c in partition_cols if c not in entries.columns]
    if missing:
        raise ValueError(f"partition columns missing from entries: {missing}")
    (
        entries.repartition(*[F.col(c) for c in partition_cols])
        .sortWithinPartitions(*partition_cols, "row_id")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_log_lake(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned lake; partition columns come back as columns
    and filters on them prune directories before any file is opened.  The
    data schema comes from one footer (``_footer_schema``), so building the
    read starts no Spark job; the partition columns are still discovered
    from the directory names."""
    return spark.read.schema(_footer_schema(spark, path)).parquet(path)


def file_info(path: str) -> dict:
    """Parquet metadata without reading data (query.go:358-396): row count,
    column count, file size, row-group count.  Uses footer metadata only;
    sums across part-files when ``path`` is a directory (the reference is
    single-file; a directory is this engine's scale-out layout), searched
    recursively so a partitioned lake counts too — its column count is the
    data columns', as partition values live in directory names."""
    import pyarrow.parquet as pq

    files = _parquet_files(path) if os.path.isdir(path) else [path]
    if not files:
        raise ValueError(f"no parquet files at {path}")
    rows = 0
    row_groups = 0
    size = 0
    ncols = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        row_groups += md.num_row_groups
        ncols = md.num_columns
        size += os.path.getsize(f)
    return {
        "row_count": rows,
        "column_count": ncols,
        "file_size_bytes": size,
        "num_row_groups": row_groups,
    }


def schema_evolution_report(old, new) -> list[dict]:
    """Compatibility report between two schemas (StructType or
    DataFrame) — the gate a lake runs before accepting a producer's new
    drop: one dict per change with ``kind`` ∈ added / dropped /
    type_changed / nullability_changed and ``breaking`` (dropped
    columns and type changes break readers; additions and
    nullable-loosening don't).  Nested structs compare by their DDL
    string (a nested change reports as type_changed on the top-level
    column — precise enough to fail the gate, which is its job)."""
    from pyspark.sql import DataFrame as _DF

    os_ = old.schema if isinstance(old, _DF) else old
    ns_ = new.schema if isinstance(new, _DF) else new
    of = {f.name: f for f in os_.fields}
    nf = {f.name: f for f in ns_.fields}
    out: list[dict] = []
    for name in sorted(of.keys() | nf.keys()):
        if name not in nf:
            out.append(
                {"column": name, "kind": "dropped", "breaking": True,
                 "old": of[name].dataType.simpleString(), "new": None}
            )
        elif name not in of:
            out.append(
                {"column": name, "kind": "added", "breaking": False,
                 "old": None, "new": nf[name].dataType.simpleString()}
            )
        else:
            o, n = of[name], nf[name]
            if o.dataType != n.dataType:
                out.append(
                    {"column": name, "kind": "type_changed",
                     "breaking": True,
                     "old": o.dataType.simpleString(),
                     "new": n.dataType.simpleString()}
                )
            elif o.nullable != n.nullable:
                out.append(
                    {"column": name, "kind": "nullability_changed",
                     # required→nullable LOOSENS a guarantee readers may
                     # rely on (breaking); nullable→required tightens it
                     "breaking": (not o.nullable) and n.nullable,
                     "old": str(o.nullable), "new": str(n.nullable)}
                )
    return out


def column_size_report(spark: SparkSession, path: str) -> DataFrame:
    """Per-column storage accounting for a parquet lake — footers only,
    no data IO: one task per file reads its metadata and emits per-column
    compressed/uncompressed byte totals; the aggregate is one
    column-keyed combine.  The "what is eating my 100 TB" question —
    a lake's cost usually concentrates in one or two fat columns whose
    encoding (or very presence downstream) deserves attention.

    Output: ``(column, n_files, n_row_groups, compressed_bytes,
    uncompressed_bytes, ratio100)`` — ratio as an exact ×100 integer.
    """
    files = _parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    sc = spark.sparkContext

    def _one(fp: str):
        import pyarrow.parquet as pq

        md = pq.ParquetFile(fp).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                yield (
                    c.path_in_schema,
                    fp,
                    c.total_compressed_size,
                    c.total_uncompressed_size,
                )

    rows = sc.parallelize(files, min(len(files), 64)).flatMap(_one)
    df = spark.createDataFrame(
        rows, "column string, file string, comp long, uncomp long"
    )
    return (
        df.groupBy("column")
        .agg(
            F.count_distinct("file").alias("n_files"),
            F.count("*").alias("n_row_groups"),
            F.sum("comp").alias("compressed_bytes"),
            F.sum("uncomp").alias("uncompressed_bytes"),
        )
        .select(
            "column",
            "n_files",
            "n_row_groups",
            "compressed_bytes",
            "uncompressed_bytes",
            F.expr(
                "case when compressed_bytes > 0 then"
                " uncompressed_bytes * 100 div compressed_bytes"
                " else 0 end"
            ).alias("ratio100"),
        )
    )
